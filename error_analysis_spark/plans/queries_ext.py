"""Driver-contract queries: training-data extension operators over the
`documents` and `embeddings` tables — dedup (exact / Jaccard / MinHash),
similarity search, text analysis.

Hash arithmetic is md5-derived (`conv(substr(md5(x),1,15),16,10)` ≡
DuckDB `('0x'||substr(md5(x),1,15))::BIGINT` — verified bit-equal), so
even the MinHash signatures are oracle-checked, not just row-counted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from error_analysis_spark.extensions import dedup as DD
from error_analysis_spark.extensions import multimodal as MM
from error_analysis_spark.extensions import similarity as SIM
from error_analysis_spark.extensions import text as TX
from error_analysis_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.exact_dedup(docs)


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS canonical_id
FROM documents GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# Token-level Jaccard near-dup (inverted-index join, no cross join)
# --------------------------------------------------------------------------

_J_THRESH = 0.5
# Candidate pruning: drop tokens present in more than this fraction of
# the corpus from the inverted index (pairs are still EXACTLY verified
# on the full token sets). This is the form you'd run at 100 TB — the
# unpruned join is quadratic in posting-list length on hot tokens — so
# the oracle pins the pruned candidate+verify semantics, not the naive
# all-shared-tokens join.
_J_MAXDF_FRAC = 0.5


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # fractional max_df resolves in-plan (1-row broadcast), no eager
    # docs.count() corpus pass per invocation
    return DD.jaccard_pairs(docs, threshold=_J_THRESH,
                            max_df=_J_MAXDF_FRAC)


DEDUP_JACCARD_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
       AS t(token)
),
sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
tok_df AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
nd AS (
  SELECT greatest(1, CAST(floor(count(*) * {_J_MAXDF_FRAC}) AS BIGINT))
         AS max_df
  FROM documents
),
posting AS (
  SELECT t.id, t.token
  FROM toks t JOIN tok_df d ON t.token = d.token, nd
  WHERE d.df <= nd.max_df
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM posting a JOIN posting b ON a.token = b.token AND a.id < b.id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks ta ON ta.id = c.id_a
  JOIN toks tb ON tb.id = c.id_b AND tb.token = ta.token
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_J_THRESH}
"""


# --------------------------------------------------------------------------
# MinHash signatures (deterministic md5 hashing — full oracle check)
# --------------------------------------------------------------------------

_NUM_PERM = 16
_M31 = (1 << 31) - 1


def dedup_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") % 10 == 0)
    return DD.minhash_signatures(docs, num_perm=_NUM_PERM, seed=42)


MINHASH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
       AS t(token)
  WHERE doc_id % 10 = 0
),
hashed AS (
  SELECT id, ('0x' || substr(md5(token), 1, 7))::BIGINT % {_M31} AS th FROM toks
),
perms AS (
  SELECT range AS perm,
         ('0x' || substr(md5('a42_' || range), 1, 7))::BIGINT
             % ({_M31} - 1) + 1 AS pa,
         ('0x' || substr(md5('b42_' || range), 1, 7))::BIGINT
             % {_M31} AS pb
  FROM range({_NUM_PERM})
)
SELECT id, perm, min((pa * th + pb) % {_M31}) AS minhash
FROM hashed CROSS JOIN perms
GROUP BY id, perm
"""


# --------------------------------------------------------------------------
# Document fingerprint (1-perm shingle minhash)
# --------------------------------------------------------------------------

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.fingerprint(docs, n_shingles=3)


FINGERPRINT_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       list_min(list_transform(
         generate_series(1, len(toks) - 2),
         i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
                              1, 15))::BIGINT)) AS fingerprint,
       len(toks) AS n_tokens
FROM t
"""


# --------------------------------------------------------------------------
# Text token/quality stats
# --------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = TX.token_stats(docs)
    return s.select(
        "doc_id", "n_tokens", "n_distinct",
        F.round("ttr", 6).alias("ttr"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
    )


TOKEN_STATS_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
       round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / len(toks), 6) AS mean_token_len,
       round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / length(text), 6) AS alpha_ratio
FROM t
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals (dup lines, top bigram,
    duplicate 5-grams) — extensions/text.py:repetition_stats."""
    docs = load_table(spark, sf_dir, "documents")
    s = TX.repetition_stats(docs)
    return s.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("top_2gram_frac", 6).alias("top_2gram_frac"),
        F.round("dup_5gram_frac", 6).alias("dup_5gram_frac"),
    )


def _pii_aug_text():
    """The augmented-text expression shared by the text_pii_scrub
    member and the text_doc_pack fused projection (round 12):
    deterministic synthetic PII injected into every 7th doc."""
    suffix = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com at 10.0."),
                 (F.col("doc_id") % 256).cast("string"),
                 F.lit(".7 or +12 345 678 901 now"))).otherwise(F.lit(""))
    return F.concat(F.col("text"), suffix)


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (extensions/text.py:pii_scrub) over documents with
    deterministic synthetic PII injected into every 7th doc (both
    engines build the identical augmented text); md5 of the scrubbed
    text proves byte-identical redaction."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _pii_aug_text().alias("text"))
    out = TX.pii_scrub(aug)
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone",
                      F.md5("scrubbed").alias("scrub_md5"))


_PII_E, _PII_I, _PII_P = (TX.PII_PATTERNS["email"], TX.PII_PATTERNS["ipv4"],
                          TX.PII_PATTERNS["phone"])

PII_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0 THEN
           ' contact user' || doc_id || '@example.com at 10.0.'
           || (doc_id % 256) || '.7 or +12 345 678 901 now'
         ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_E}')) AS n_email,
       len(regexp_extract_all(text, '{_PII_I}')) AS n_ipv4,
       len(regexp_extract_all(text, '{_PII_P}')) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_E}', '<EMAIL>', 'g'),
           '{_PII_I}', '<IP>', 'g'),
           '{_PII_P}', '<PHONE>', 'g')) AS scrub_md5
FROM aug
"""


_CONTAM_N = 5
_CONTAM_THRESH = 0.3


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (extensions/contamination.py): docs with
    doc_id % 13 == 0 act as the held-out benchmark; every other doc is
    scored by the fraction of its distinct 5-grams that appear in the
    benchmark. Broadcast bench-gram set + semi-join (the 100 TB shape)."""
    from error_analysis_spark.extensions import contamination as CT
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 13 == 0)
    train = docs.where(F.col("doc_id") % 13 != 0)
    return CT.contamination_report(train, bench, n=_CONTAM_N,
                                   threshold=_CONTAM_THRESH)


CONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= {_CONTAM_N} THEN
           list_transform(range(1, len(t) - {_CONTAM_N} + 2),
                          i -> array_to_string(t[i:i+{_CONTAM_N - 1}], ' '))
         ELSE []::VARCHAR[] END) AS gs
  FROM toks
),
bench AS (
  SELECT DISTINCT g FROM grams, unnest(gs) AS u(g) WHERE doc_id % 13 = 0
),
train AS (SELECT doc_id, gs FROM grams WHERE doc_id % 13 <> 0),
tg AS (SELECT doc_id, u.g FROM train, unnest(gs) AS u(g)),
m AS (
  SELECT tg.doc_id, count(*) AS n_matched
  FROM tg JOIN bench b ON tg.g = b.g GROUP BY tg.doc_id
)
SELECT t.doc_id, len(t.gs) AS n_grams,
       coalesce(m.n_matched, 0) AS n_matched,
       round(CASE WHEN len(t.gs) > 0
             THEN coalesce(m.n_matched, 0)::DOUBLE / len(t.gs) END,
             6) AS contam_frac,
       coalesce(coalesce(m.n_matched, 0)::DOUBLE / len(t.gs)
                >= {_CONTAM_THRESH}, FALSE) AS contaminated
FROM train t LEFT JOIN m USING (doc_id)
"""


_BM25_TERMS = ("data", "model", "quality")
_BM25_K = 15


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval (extensions/text.py:bm25_topk) for a
    fixed query — corpus stats via single aggregates, postings via
    broadcast term filter, TakeOrderedAndProject top-k."""
    docs = load_table(spark, sf_dir, "documents")
    out = TX.bm25_topk(docs, list(_BM25_TERMS), k=_BM25_K)
    return out.select("doc_id", F.round("score", 6).alias("score"))


_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in _BM25_TERMS)

BM25_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
             AS toks
  FROM documents
),
lens AS (SELECT doc_id, len(toks) AS dl FROM t),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
postings AS (
  SELECT doc_id, tk.term, count(*) AS tf
  FROM t, unnest(toks) AS tk(term)
  WHERE tk.term IN ({_BM25_TERM_LIST})
  GROUP BY doc_id, tk.term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings
          GROUP BY term),
scored AS (
  SELECT p.doc_id,
         sum(ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * (p.tf * (1.2 + 1.0))
             / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / c.avgdl)))
           AS score
  FROM postings p
  JOIN dfreq d ON p.term = d.term
  JOIN lens l ON p.doc_id = l.doc_id
  CROSS JOIN corpus c
  GROUP BY p.doc_id
)
SELECT doc_id, round(score, 6) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id LIMIT {_BM25_K})
"""


REPETITION_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
             AS toks,
         list_filter(regexp_split_to_array(text, chr(10)),
                     x -> trim(x) <> '') AS lines
  FROM documents
),
l AS (
  SELECT doc_id,
         CASE WHEN len(lines) > 0 THEN
           1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
         END AS dup_line_frac
  FROM t
),
b2c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i+1])) AS g
        FROM t)
  GROUP BY doc_id, g
),
b2 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_2gram_frac
  FROM b2c GROUP BY doc_id
),
g5c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 4),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      || ' ' || toks[i+3] || ' ' || toks[i+4])) AS g
        FROM t)
  GROUP BY doc_id, g
),
g5 AS (
  SELECT doc_id, CAST(sum(c) - count(*) AS DOUBLE) / sum(c)
           AS dup_5gram_frac
  FROM g5c GROUP BY doc_id
)
SELECT l.doc_id,
       round(l.dup_line_frac, 6) AS dup_line_frac,
       round(b2.top_2gram_frac, 6) AS top_2gram_frac,
       round(g5.dup_5gram_frac, 6) AS dup_5gram_frac
FROM l
LEFT JOIN b2 ON l.doc_id = b2.doc_id
LEFT JOIN g5 ON l.doc_id = g5.doc_id
"""


# --------------------------------------------------------------------------
# Language-ID heuristic (stopword hit rates + CJK char rate, argmax)
# --------------------------------------------------------------------------

def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = TX.lang_scores(docs)
    return (
        scored.groupBy("pred_lang")
        .agg(F.count("*").alias("n_docs"),
             F.round(F.sum("score_en"), 6).alias("sum_score_en"))
    )


_SW_SQL = {lg: ", ".join(f"'{w}'" for w in ws) for lg, ws in TX.STOPWORDS.items()}

LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')
             AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, x -> x IN ({_SW_SQL['en']}))) AS DOUBLE)
             / len(toks) AS score_en,
         CAST(len(list_filter(toks, x -> x IN ({_SW_SQL['fr']}))) AS DOUBLE)
             / len(toks) AS score_fr,
         CAST(len(list_filter(toks, x -> x IN ({_SW_SQL['de']}))) AS DOUBLE)
             / len(toks) AS score_de,
         CAST(len(list_filter(toks, x -> x IN ({_SW_SQL['es']}))) AS DOUBLE)
             / len(toks) AS score_es,
         CAST(length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))
              AS DOUBLE) / length(text) AS score_zh
  FROM t
),
pred AS (
  SELECT doc_id, score_en,
         CASE
           WHEN score_en >= greatest(score_fr, score_de, score_es, score_zh) THEN 'en'
           WHEN score_fr >= greatest(score_en, score_de, score_es, score_zh) THEN 'fr'
           WHEN score_de >= greatest(score_en, score_fr, score_es, score_zh) THEN 'de'
           WHEN score_es >= greatest(score_en, score_fr, score_de, score_zh) THEN 'es'
           ELSE 'zh'
         END AS pred_lang
  FROM scored
)
SELECT pred_lang, count(*) AS n_docs, round(sum(score_en), 6) AS sum_score_en
FROM pred GROUP BY pred_lang
"""


# --------------------------------------------------------------------------
# Similarity search: exact cosine top-k against a fixed query vector
# --------------------------------------------------------------------------

_TOP_K = 20


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(v) for v in qrow["embedding"]]
    return SIM.cosine_topk(emb.where(F.col("vec_id") > 0), qvec, k=_TOP_K)


SIM_TOPK_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         round(list_dot_product(embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
  FROM embeddings, q WHERE vec_id > 0
)
SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id ASC LIMIT {_TOP_K}
"""


# --------------------------------------------------------------------------
# SimHash signatures (md5 bit arithmetic — full oracle check)
# --------------------------------------------------------------------------

_SH_BITS = 48


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return DD.simhash(docs, bits=_SH_BITS)


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
       AS t(token)
  WHERE doc_id % 5 = 0
),
hashed AS (
  SELECT id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS th FROM toks
),
bitsum AS (
  SELECT id, b.bit,
         sum(CASE WHEN (th >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, {_SH_BITS - 1})) AS bit) b
  GROUP BY id, b.bit
)
SELECT id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bitsum GROUP BY id
"""


# --------------------------------------------------------------------------
# SimHash Hamming-radius pair search (pigeonhole banding, Manku 2007):
# the oracle restates band split + equi-join + bit_count verify, so a
# MATCH proves the banded decomposition finds exactly the radius set.
# --------------------------------------------------------------------------

_SH_HAM = 3


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents") \
        .where(F.col("doc_id") % 5 == 0)
    return DD.simhash_near_pairs(docs, bits=_SH_BITS,
                                 max_hamming=_SH_HAM)


SIMHASH_PAIRS_SQL = f"""
WITH sig AS ({SIMHASH_SQL}),
banded AS (
  SELECT id, simhash, b.band,
         (simhash >> (b.band * {_SH_BITS // (_SH_HAM + 1)}))
           & CASE WHEN b.band < {_SH_HAM}
                  THEN {(1 << (_SH_BITS // (_SH_HAM + 1))) - 1}
                  ELSE {(1 << (_SH_BITS - (_SH_BITS // (_SH_HAM + 1)) * _SH_HAM)) - 1}
             END AS bval
  FROM sig CROSS JOIN
       (SELECT unnest(generate_series(0, {_SH_HAM})) AS band) b
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.id < b.id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {_SH_HAM}
"""


# --------------------------------------------------------------------------
# Full MinHash-LSH near-dup: signatures → banding → candidates → exact
# Jaccard verification. The oracle restates the banding single-node, so a
# MATCH proves the distributed band join finds exactly the same pairs.
# --------------------------------------------------------------------------

_LSH_PERM, _LSH_BANDS, _LSH_THRESH = 16, 4, 0.35


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    return DD.minhash_dedup(docs, num_perm=_LSH_PERM, bands=_LSH_BANDS,
                            threshold=_LSH_THRESH)[0]


MINHASH_LSH_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
       AS t(token)
  WHERE doc_id % 2 = 0
),
hashed AS (
  SELECT id, ('0x' || substr(md5(token), 1, 7))::BIGINT % {_M31} AS th FROM toks
),
perms AS (
  SELECT range AS perm,
         ('0x' || substr(md5('a42_' || range), 1, 7))::BIGINT
             % ({_M31} - 1) + 1 AS pa,
         ('0x' || substr(md5('b42_' || range), 1, 7))::BIGINT
             % {_M31} AS pb
  FROM range({_LSH_PERM})
),
sigs AS (
  SELECT id, perm, min((pa * th + pb) % {_M31}) AS minhash
  FROM hashed CROSS JOIN perms GROUP BY id, perm
),
banded AS (
  SELECT id, perm // {_LSH_PERM // _LSH_BANDS} AS band,
         md5(string_agg(perm || ':' || minhash, ','
             ORDER BY perm || ':' || minhash)) AS sig
  FROM sigs GROUP BY id, perm // {_LSH_PERM // _LSH_BANDS}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cands c
  JOIN toks ta ON ta.id = c.id_a
  JOIN toks tb ON tb.id = c.id_b AND tb.token = ta.token
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_LSH_THRESH}
"""


# --------------------------------------------------------------------------
# Text quality scoring
# --------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.quality_score(docs)


QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(0.4 * least(len(toks) / 100.0, 1.0)
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE) / length(text)), 6) AS quality
FROM t
"""


def text_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText document-quality rule set
    (text.py:gopher_flags — Rae et al. 2021 A1.1): word-count bounds,
    mean word length, symbol ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, stop-list hits, and the combined pass
    flag. Row-local projection over one corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.gopher_flags(docs)


GOPHER_FLAGS_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
             AS toks,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '')
             AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CASE WHEN len(toks) > 0 THEN
           round(CAST(list_sum(list_transform(toks, w -> length(w)))
                      AS DOUBLE) / len(toks), 6)
         END AS mean_word_len,
         CASE WHEN len(toks) > 0 THEN
           round((CAST(length(text) - length(replace(text, '#', ''))
                       AS DOUBLE)
                  + (length(text) - length(replace(text, '...', ''))) / 3.0
                  ) / len(toks), 6)
         END AS symbol_word_ratio,
         CASE WHEN len(lines) > 0 THEN
           round(CAST(len(list_filter(lines,
                    x -> substr(ltrim(x), 1, 1) IN ('•', '-', '*')))
                 AS DOUBLE) / len(lines), 6)
         END AS bullet_line_frac,
         CASE WHEN len(lines) > 0 THEN
           round(CAST(len(list_filter(lines,
                    x -> right(rtrim(x), 3) = '...'
                         OR right(rtrim(x), 1) = '…'))
                 AS DOUBLE) / len(lines), 6)
         END AS ellipsis_line_frac,
         CASE WHEN len(toks) > 0 THEN
           round(CAST(len(list_filter(toks,
                    w -> regexp_matches(w, '[A-Za-z]')))
                 AS DOUBLE) / len(toks), 6)
         END AS alpha_word_frac,
         CAST(len(list_intersect(
             list_distinct(list_transform(toks, w -> lower(w))),
             ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
             AS BIGINT) AS n_stop_hits
  FROM t
)
SELECT *,
       coalesce(n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_word_ratio <= 0.1
                AND bullet_line_frac <= 0.9
                AND ellipsis_line_frac <= 0.3
                AND alpha_word_frac >= 0.8
                AND n_stop_hits >= 2, false) AS passes_gopher
FROM m
"""


def text_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning recipe (text.py:c4_clean — Raffel et al. 2020
    §2.2): terminal-punctuation + min-words + no-javascript line
    filters composing a cleaned document, then the lorem-ipsum /
    curly-brace / min-kept-lines document drops. One map-only pass."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.c4_clean(docs)


C4_CLEAN_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '')
             AS lines
  FROM documents
),
k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, x ->
             right(rtrim(x), 1) IN ('.', '!', '?', '"')
             AND len(list_filter(regexp_split_to_array(x, '\\s+'),
                                 w -> w <> '')) >= 5
             AND NOT contains(lower(x), 'javascript')) AS kept_lines
  FROM t
)
SELECT doc_id,
       -- DuckDB's array_to_string is NULL on an empty list where
       -- Spark's array_join is '' — canonicalize to ''
       coalesce(array_to_string(kept_lines, chr(10)), '') AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines_in,
       CAST(len(kept_lines) AS BIGINT) AS n_lines_kept,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       (contains(text, '{') OR contains(text, '}')) AS has_brace,
       coalesce(len(kept_lines) >= 3
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT (contains(text, '{') OR contains(text, '}')),
                false) AS kept
FROM k
"""


# --------------------------------------------------------------------------
# Exact pairwise k-NN (brute-force baseline for ANN)
# --------------------------------------------------------------------------

_KNN_K = 3


def sim_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN via the blocked-GEMM path (block-local top-k + global
    window prune); oracle = naive all-pairs SQL, so a MATCH proves the
    block decomposition returns the identical neighbor lists."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 5 == 0)
    # default n_blocks=8; the decomposition is exact for any block count
    return SIM.block_cosine_topk(emb, k=_KNN_K)


PAIRWISE_KNN_SQL = f"""
WITH n AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nn
  FROM embeddings WHERE vec_id % 5 = 0
),
scored AS (
  SELECT a.id AS id_a, b.id AS id_b,
         round(list_dot_product(a.v, b.v) / (a.nn * b.nn), 6) AS sim
  FROM n a JOIN n b ON a.id <> b.id
),
ranked AS (
  SELECT id_a, id_b, sim,
         row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b ASC) AS rk
  FROM scored
)
SELECT id_a, id_b, sim, rk FROM ranked WHERE rk <= {_KNN_K}
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (dedup over the vector space)
# --------------------------------------------------------------------------

_EMB_THRESH = 0.35


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup = cosine above threshold, via the blocked-GEMM path
    (extensions.similarity.block_cosine_pairs): one numpy matmul per
    block pair instead of O(N²) materialized pair rows. The oracle is
    the naive all-pairs SQL — a MATCH proves the block decomposition
    exact (same pairs, same rounded sims)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.block_cosine_pairs(emb, threshold=_EMB_THRESH)


EMB_DEDUP_SQL = f"""
WITH n AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nn
  FROM embeddings
)
SELECT a.id AS id_a, b.id AS id_b,
       round(list_dot_product(a.v, b.v) / (a.nn * b.nn), 6) AS sim
FROM n a JOIN n b ON a.id < b.id
WHERE round(list_dot_product(a.v, b.v) / (a.nn * b.nn), 6) >= {_EMB_THRESH}
"""


# --------------------------------------------------------------------------
# Multimodal asset columns (documents → binary payloads)
# --------------------------------------------------------------------------

def _doc_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic asset table derived from documents: kind/dims from
    doc_id arithmetic. Every even-doc_id image (doc_id % 6 == 0)
    carries a REAL binary-PPM payload (P6 header + a 4×3 raster built
    from md5(text) hex — constructible identically in ANSI SQL, so the
    oracle can restate both the bytes and which rows decode 'real');
    all other payloads are the raw utf-8 text (stub-decoded)."""
    docs = load_table(spark, sf_dir, "documents")
    kind = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                        (F.col("doc_id") % 3 + 1).cast("int"))
    is_ppm = (F.col("doc_id") % 6 == 0)
    ppm_payload = F.encode(
        F.concat(F.lit("P6\n4 3\n255\n"),
                 F.rpad(F.md5(F.encode(F.col("text"), "UTF-8")), 36, "0")),
        "UTF-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.when(is_ppm, ppm_payload)
         .otherwise(F.encode(F.col("text"), "UTF-8")).alias("payload"),
        F.when(is_ppm, F.lit(4))
         .when(kind != "audio", (16 + (F.col("doc_id") % 13) * 8))
         .cast("int").alias("width"),
        F.when(is_ppm, F.lit(3))
         .when(kind != "audio", (16 + (F.col("doc_id") % 7) * 8))
         .cast("int").alias("height"),
        F.when(kind == "audio", F.lit(1600)).cast("int").alias("sample_rate"),
        F.when(kind == "video", (4 + F.col("doc_id") % 8).cast("int"))
         .alias("n_frames"),
        F.when(is_ppm, F.lit("ppm")).otherwise(F.lit("stub")).alias("codec"),
    )


def mm_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.payload_stats(_doc_assets(spark, sf_dir))


MM_STATS_SQL = """
WITH assets AS (
  SELECT doc_id AS asset_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         CASE WHEN doc_id % 6 = 0
              THEN 'P6' || chr(10) || '4 3' || chr(10) || '255' || chr(10)
                   || rpad(md5(text), 36, '0')
              ELSE text END AS payload,
         CASE WHEN doc_id % 6 = 0 THEN 4
              WHEN doc_id % 3 <> 1
              THEN CAST(16 + (doc_id % 13) * 8 AS INTEGER) END AS width
  FROM documents
)
SELECT kind, count(*) AS n_assets,
       CAST(sum(octet_length(encode(payload))) AS BIGINT) AS total_bytes,
       count(DISTINCT md5(payload)) AS n_distinct_payloads,
       round(avg(coalesce(width, 0)), 4) AS avg_width
FROM assets GROUP BY kind
"""


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature stats — mapInPandas plumbing. The doc_id%6==0
    image rows carry real PPM bytes and decode 'real' (byte-level
    parse); everything else stub-decodes. Both the decoded shape and
    `decode_src` are oracle-restated, so the stub/real split is proven
    in the data itself.

    Driver-facing projection keeps the columns the decode derives
    purely from payload/metadata (`n_bytes`, `shape`, `decode_src`), so
    a DuckDB oracle can recompute them; `shape array<int>` is serialized
    to 'HxWx3' strings (raw arrays are unhashable in the driver's
    canonicalizer). mean/std of the decoded array are digest/raster
    output with no SQL restatement — covered by tests/test_multimodal.
    """
    feats = MM.extract_features(_doc_assets(spark, sf_dir), batch_rows=32)
    return feats.select(
        "asset_id", "kind", "n_bytes",
        F.concat_ws("x", F.col("shape").cast("array<string>")).alias("shape"),
        "decode_src",
    )


MM_FEATURES_SQL = """
WITH assets AS (
  SELECT doc_id AS asset_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         CAST(CASE WHEN doc_id % 6 = 0 THEN 47
              ELSE octet_length(encode(text)) END AS INTEGER) AS n_bytes,
         CAST(16 + (doc_id % 13) * 8 AS INTEGER) AS width,
         CAST(16 + (doc_id % 7) * 8 AS INTEGER) AS height,
         CAST(4 + doc_id % 8 AS INTEGER) AS n_frames,
         (doc_id % 6 = 0) AS is_ppm
  FROM documents
)
SELECT asset_id, kind, n_bytes,
       CASE WHEN is_ppm THEN '3x4x3'
            WHEN kind = 'image' THEN height || 'x' || width || 'x3'
            WHEN kind = 'audio' THEN '1600'
            ELSE n_frames || 'x' || height || 'x' || width || 'x3'
       END AS shape,
       CASE WHEN is_ppm THEN 'real' ELSE 'stub' END AS decode_src
FROM assets
"""


def _near_summary(sig: DataFrame, sig_col: str, prefix: str,
                  pairs: DataFrame) -> DataFrame:
    """Shared tail of mm_phash / mm_afp (and mm_pack's fused path): the
    symmetric per-asset summary of a banded Hamming-radius pair search
    — n_near / min_ham / sum_ham / nearest (exact DECIMAL(38,0)
    tie-break key) left-joined back onto the signature frame. `sig`
    must carry asset_id, `sig_col` and decode_src; output columns are
    prefixed (`ph_` / `af_`) exactly as the members emit them."""
    sym = (pairs.select(F.col("id_a").alias("asset_id"),
                        F.col("id_b").alias("nbr"), "hamming")
           .unionByName(pairs.select(F.col("id_b").alias("asset_id"),
                                     F.col("id_a").alias("nbr"),
                                     "hamming")))
    key = (F.col("hamming").cast("decimal(38,0)")
           * F.lit("18446744073709551616").cast("decimal(38,0)")
           + F.col("nbr").cast("decimal(38,0)")
           + F.lit("9223372036854775808").cast("decimal(38,0)"))
    near = sym.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias(f"{prefix}_n_near"),
        F.min("hamming").cast("int").alias(f"{prefix}_min_ham"),
        F.sum("hamming").cast("long").alias(f"{prefix}_sum_ham"),
        F.min_by("nbr", key).alias(f"{prefix}_nearest"))
    return (sig.join(near, ["asset_id"], "left")
            .select("asset_id", sig_col,
                    F.col("decode_src").alias(f"{prefix}_src"),
                    f"{prefix}_n_near", f"{prefix}_min_ham",
                    f"{prefix}_sum_ham", f"{prefix}_nearest"))


def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup dedup (VERDICT r07 #5 — the
    modality gap: the dedup stack was text/embedding-only). Every
    image asset's 64-bit dHash (nearest-neighbor 8×9 grid over the
    REAL decode path — multimodal.dhash64) plus the per-asset summary
    of the banded Hamming-radius pair search at radius 6 (the
    dedup_sig_pack hash-visibility pattern: n_near/min_ham/sum_ham
    make every pair and every distance flip the pack hash; nearest
    uses the exact DECIMAL(38,0) tie-break key).

    The phash frame is pinned (cachereg-tracked): it feeds both sides
    of the band join AND the output projection, and unlike the
    row-local SimHash subtree the decode stage is a Python/Arrow
    mapInPandas pass — at scale (real JPEG corpora) recomputing the
    decode 3× dominates everything else, so the pin is the correct
    100 TB shape.

    Grain: one row per IMAGE asset (audio/video never pay the decode —
    the kind filter prunes before the Python stage)."""
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track

    assets = _doc_assets(spark, sf_dir)
    ph = MM.image_phash(assets, batch_rows=32)
    ph = track(ph.persist(StorageLevel.MEMORY_AND_DISK))
    return _near_summary(ph, "phash", "ph",
                         MM.phash_near_pairs(ph, max_hamming=6))


# The oracle restates the WHOLE perceptual pipeline in SQL: the PPM
# rows' decoded pixels are the ASCII codes of rpad(md5(text),36,'0')
# (the payload raster bytes), the stub rows' pixels are the sha256
# digest of the utf-8 text tiled cyclically over (h,w,3)
# (decode_payload_src's deterministic fallback), the dHash is the
# 8-row × 9-col nearest-neighbor grid with unscaled r+g+b grayscale,
# and the pair search is brute-force (the Spark banding is an EXACT
# decomposition, so brute force is the semantics). The signed-64 pack
# avoids HUGEINT shifts via hi/lo 32-bit halves.
MM_PHASH_SQL = """
WITH imgs AS (
  SELECT doc_id AS asset_id,
         (doc_id % 6 = 0) AS is_ppm,
         CASE WHEN doc_id % 6 = 0 THEN 3
              ELSE CAST(16 + (doc_id % 7) * 8 AS INTEGER) END AS h,
         CASE WHEN doc_id % 6 = 0 THEN 4
              ELSE CAST(16 + (doc_id % 13) * 8 AS INTEGER) END AS w,
         rpad(md5(text), 36, '0') AS raster,
         sha256(text) AS sha
  FROM documents WHERE doc_id % 3 = 0
),
grid AS (
  SELECT gi.range::INTEGER AS i, gj.range::INTEGER AS j
  FROM range(8) gi, range(9) gj
),
spos AS (
  SELECT asset_id, is_ppm, raster, sha, i, j,
         (((i * h) // 8) * w + ((j * w) // 9)) * 3 AS base
  FROM imgs, grid
),
gval AS (
  SELECT asset_id, i, j,
         CASE WHEN is_ppm THEN
             ord(substr(raster, base + 1, 1))
           + ord(substr(raster, base + 2, 1))
           + ord(substr(raster, base + 3, 1))
         ELSE
             CAST(('0x' || substr(sha, (base % 32) * 2 + 1, 2)) AS INTEGER)
           + CAST(('0x' || substr(sha, ((base + 1) % 32) * 2 + 1, 2)) AS INTEGER)
           + CAST(('0x' || substr(sha, ((base + 2) % 32) * 2 + 1, 2)) AS INTEGER)
         END AS gsum
  FROM spos
),
bits AS (
  SELECT a.asset_id, a.i * 8 + a.j AS k,
         CASE WHEN b.gsum > a.gsum THEN 1 ELSE 0 END AS bit
  FROM gval a JOIN gval b
    ON a.asset_id = b.asset_id AND a.i = b.i AND b.j = a.j + 1
  WHERE a.j < 8
),
ph AS (
  SELECT asset_id,
         CAST(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
                       ELSE 0 END) AS BIGINT) AS lo,
         CAST(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
                       ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY asset_id
),
sig AS (
  SELECT asset_id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS phash
  FROM ph
),
prs AS (
  SELECT a.asset_id AS id_a, b.asset_id AS id_b,
         bit_count(xor(a.phash, b.phash)) AS hamming
  FROM sig a JOIN sig b ON a.asset_id < b.asset_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 6
),
sym AS (
  SELECT id_a AS asset_id, id_b AS nbr, hamming FROM prs
  UNION ALL
  SELECT id_b AS asset_id, id_a AS nbr, hamming FROM prs
),
nn AS (
  SELECT asset_id, CAST(count(*) AS BIGINT) AS ph_n_near,
         CAST(min(hamming) AS INTEGER) AS ph_min_ham,
         CAST(sum(hamming) AS BIGINT) AS ph_sum_ham,
         arg_min(nbr, hamming * 18446744073709551616
                      + (nbr + 9223372036854775808)) AS ph_nearest
  FROM sym GROUP BY asset_id
)
SELECT sig.asset_id, sig.phash,
       CASE WHEN imgs.is_ppm THEN 'real' ELSE 'stub' END AS ph_src,
       nn.ph_n_near, nn.ph_min_ham, nn.ph_sum_ham, nn.ph_nearest
FROM sig JOIN imgs USING (asset_id) LEFT JOIN nn USING (asset_id)
"""


def mm_afp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio perceptual near-dup dedup (VERDICT r08 #5 — the last
    modality the dedup stack skipped). Every audio asset's 64-bit
    fingerprint (multimodal.audio_fp64: per-time-frame lag-difference
    energies — the exact-integer filterbank — double-differenced into
    Haitsma–Kalker sign bits; real PCM16 WAVs parse byte-level, stubs
    tile sha256, `decode_src` audited per row) plus the per-asset
    summary of the banded Hamming-radius pair search at radius 8 (the
    mm_phash hash-visibility pattern: af_n_near/af_min_ham/af_sum_ham
    make every pair and every distance flip the pack hash; af_nearest
    uses the exact DECIMAL(38,0) tie-break key).

    The afp frame is pinned (cachereg-tracked): it feeds both sides of
    the band join AND the output projection, and the decode stage is a
    Python/Arrow mapInPandas pass — the image_phash precedent.

    Grain: one row per AUDIO asset (image/video never pay the decode)."""
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track

    assets = _doc_assets(spark, sf_dir)
    af = MM.audio_fingerprint(assets, batch_rows=32)
    af = track(af.persist(StorageLevel.MEMORY_AND_DISK))
    return _near_summary(af, "afp", "af",
                         MM.afp_near_pairs(af, max_hamming=8))


# The oracle restates the WHOLE audio-fingerprint pipeline in SQL: the
# audio assets are all stub rows (payload = UTF-8 text bytes, never
# RIFF), so samples are the sha256 digest bytes tiled to 1600
# (s[i] = digest[i mod 32]); the energy grid is 9 frames × lags 1..9 ×
# 16 strided probes of exact integer squared lag-differences; the 64
# bits are the Haitsma–Kalker double-difference signs packed
# little-endian signed (the mm_phash hi/lo pattern); and the pair
# search is brute-force at radius 8 (the Spark banding is an EXACT
# decomposition, so brute force is the semantics).
MM_AFP_SQL = """
WITH aud AS (
  SELECT doc_id AS asset_id, sha256(text) AS sha
  FROM documents WHERE doc_id % 3 = 1
),
cells AS (
  SELECT gf.range::INTEGER AS f, gj.range::INTEGER + 1 AS j,
         gm.range::INTEGER AS m
  FROM range(9) gf, range(9) gj, range(16) gm
),
pos AS (
  SELECT asset_id, sha, f, j,
         ((f * 1600) // 9)
         + (m * ((((f + 1) * 1600) // 9) - ((f * 1600) // 9) - 10)) // 16
           AS a
  FROM aud, cells
),
terms AS (
  SELECT asset_id, f, j,
         CAST(('0x' || substr(sha, (((a + j) % 32) * 2) + 1, 2)) AS BIGINT)
       - CAST(('0x' || substr(sha, ((a % 32) * 2) + 1, 2)) AS BIGINT) AS d
  FROM pos
),
energy AS (
  SELECT asset_id, f, j, CAST(sum(d * d) AS BIGINT) AS e
  FROM terms GROUP BY asset_id, f, j
),
banddiff AS (
  SELECT a.asset_id, a.f, a.j, a.e - b.e AS bd
  FROM energy a JOIN energy b
    ON a.asset_id = b.asset_id AND a.f = b.f AND b.j = a.j + 1
  WHERE a.j < 9
),
bits AS (
  SELECT cur.asset_id, (cur.f - 1) * 8 + (cur.j - 1) AS k,
         CASE WHEN cur.bd > prv.bd THEN 1 ELSE 0 END AS bit
  FROM banddiff cur JOIN banddiff prv
    ON cur.asset_id = prv.asset_id AND cur.j = prv.j
   AND prv.f = cur.f - 1
  WHERE cur.f >= 1
),
packed AS (
  SELECT asset_id,
         CAST(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
                       ELSE 0 END) AS BIGINT) AS lo,
         CAST(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
                       ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY asset_id
),
sig AS (
  SELECT asset_id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS afp
  FROM packed
),
prs AS (
  SELECT a.asset_id AS id_a, b.asset_id AS id_b,
         bit_count(xor(a.afp, b.afp)) AS hamming
  FROM sig a JOIN sig b ON a.asset_id < b.asset_id
  WHERE bit_count(xor(a.afp, b.afp)) <= 8
),
sym AS (
  SELECT id_a AS asset_id, id_b AS nbr, hamming FROM prs
  UNION ALL
  SELECT id_b AS asset_id, id_a AS nbr, hamming FROM prs
),
nn AS (
  SELECT asset_id, CAST(count(*) AS BIGINT) AS af_n_near,
         CAST(min(hamming) AS INTEGER) AS af_min_ham,
         CAST(sum(hamming) AS BIGINT) AS af_sum_ham,
         arg_min(nbr, hamming * 18446744073709551616
                      + (nbr + 9223372036854775808)) AS af_nearest
  FROM sym GROUP BY asset_id
)
SELECT sig.asset_id, sig.afp, 'stub' AS af_src,
       nn.af_n_near, nn.af_min_ham, nn.af_sum_ham, nn.af_nearest
FROM sig LEFT JOIN nn USING (asset_id)
"""


# --------------------------------------------------------------------------
# Connected-components dedup grouping (canonical document selection):
# near-dup pairs (embedding cosine ≥ threshold) → clusters via hash-min
# label propagation; oracle = recursive-CTE transitive closure.
# --------------------------------------------------------------------------

def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 12 (VERDICT r11 #6): `block_cosine_pairs` emits each
    unordered pair exactly once by construction (every {x, y} lives in
    the single block-pair group (min(b), max(b)); diagonal groups emit
    the strict upper triangle, cross groups each matrix cell once), so
    the pair list is DISTINCT already — persist+count materializes it
    and passing that count as `n_edges` skips connected_components'
    edge-dedup shuffle, localCheckpoint copy and threshold-probe count
    job. Same fixpoint labeling either way (parity pinned in
    tests/test_round12_opt.py)."""
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = track(
        SIM.block_cosine_pairs(emb, threshold=_EMB_THRESH)
        .persist(StorageLevel.MEMORY_AND_DISK))
    vertices = emb.select(F.col("vec_id").alias("id"))
    comp = DD.connected_components(pairs, vertices, n_edges=pairs.count())
    return comp.groupBy("component").agg(
        F.count("*").alias("cluster_size"),
        F.max("id").alias("max_id"),
    )


COMPONENTS_SQL = f"""
WITH n AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nn
  FROM embeddings
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM n a JOIN n b ON a.id < b.id
  WHERE round(list_dot_product(a.v, b.v) / (a.nn * b.nn), 6) >= {_EMB_THRESH}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  WITH RECURSIVE r(src, node) AS (
    SELECT id, id FROM n
    UNION
    SELECT r.src, e.b FROM r JOIN edges e ON r.node = e.a
  )
  SELECT src, node FROM r
),
comp AS (
  SELECT src AS id, min(node) AS component FROM reach GROUP BY src
)
SELECT component, count(*) AS cluster_size, max(id) AS max_id
FROM comp GROUP BY component
"""


# --------------------------------------------------------------------------
# BPE-ish token counting (training-budget estimator)
# --------------------------------------------------------------------------

def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.bpe_ish_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(TX.tokens(F.col("text"))).alias("n_ws_tokens"),
        F.round(F.size(toks) / F.size(TX.tokens(F.col("text"))), 6)
         .alias("fertility"),
    )


_BPE_SQL_PAT = TX.BPE_ISH_PATTERN.replace("'", "''")

BPE_COUNT_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS n_bpe_tokens,
       len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
         AS n_ws_tokens,
       round(CAST(len(regexp_extract_all(text, '{_BPE_SQL_PAT}'))
                  AS DOUBLE)
             / len(list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '')), 6) AS fertility
FROM documents
"""


# --------------------------------------------------------------------------
# Curation funnel — the full 5-stage pipeline, oracle-gated: the DuckDB
# restatement composes the already-verified stage oracles (quality expr,
# lang argmax, md5 window-min dedup, seed-42 MinHash banding + exact
# Jaccard, recursive-CTE transitive closure). A MATCH proves the cached
# multi-stage Spark funnel (incl. the distributed label-propagation
# components) produces the exact per-stage survivor counts.
# --------------------------------------------------------------------------

_CF_MINQ, _CF_PERM, _CF_BANDS, _CF_THRESH = 0.3, 32, 8, 0.9


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions.curation import (
        CurationConfig, curate_documents,
    )
    docs = load_table(spark, sf_dir, "documents")
    _kept, stats = curate_documents(
        docs, CurationConfig(min_quality=_CF_MINQ, keep_langs=("en",),
                             near_dup_threshold=_CF_THRESH,
                             num_perm=_CF_PERM, bands=_CF_BANDS))
    return stats


CURATION_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
s1 AS (
  SELECT doc_id, text, toks FROM t
  WHERE round(0.4 * least(len(toks) / 100.0, 1.0)
          + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
          + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS DOUBLE) / length(text)), 6) >= {_CF_MINQ}
),
lt AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')
             AS ltoks
  FROM s1
),
s2 AS (
  SELECT s1.doc_id, s1.text, s1.toks
  FROM s1 JOIN (
    SELECT doc_id
    FROM (
      SELECT doc_id,
             CAST(len(list_filter(ltoks, x -> x IN ({_SW_SQL['en']})))
                  AS DOUBLE) / len(ltoks) AS score_en,
             CAST(len(list_filter(ltoks, x -> x IN ({_SW_SQL['fr']})))
                  AS DOUBLE) / len(ltoks) AS score_fr,
             CAST(len(list_filter(ltoks, x -> x IN ({_SW_SQL['de']})))
                  AS DOUBLE) / len(ltoks) AS score_de,
             CAST(len(list_filter(ltoks, x -> x IN ({_SW_SQL['es']})))
                  AS DOUBLE) / len(ltoks) AS score_es,
             CAST(length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]',
                                        '', 'g'))
                  AS DOUBLE) / length(text) AS score_zh
      FROM lt
    ) WHERE score_en >= greatest(score_fr, score_de, score_es, score_zh)
  ) lang USING (doc_id)
),
s3 AS (
  SELECT doc_id, text, toks FROM s2
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))
),
toks3 AS (SELECT DISTINCT doc_id AS id, tk.token FROM s3, unnest(toks) AS tk(token)),
hashed AS (
  SELECT id, ('0x' || substr(md5(token), 1, 7))::BIGINT % {_M31} AS th FROM toks3
),
perms AS (
  SELECT range AS perm,
         ('0x' || substr(md5('a42_' || range), 1, 7))::BIGINT
             % ({_M31} - 1) + 1 AS pa,
         ('0x' || substr(md5('b42_' || range), 1, 7))::BIGINT
             % {_M31} AS pb
  FROM range({_CF_PERM})
),
sigs AS (
  SELECT id, perm, min((pa * th + pb) % {_M31}) AS minhash
  FROM hashed CROSS JOIN perms GROUP BY id, perm
),
banded AS (
  SELECT id, perm // {_CF_PERM // _CF_BANDS} AS band,
         md5(string_agg(perm || ':' || minhash, ','
             ORDER BY perm || ':' || minhash)) AS sig
  FROM sigs GROUP BY id, perm // {_CF_PERM // _CF_BANDS}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS sz FROM toks3 GROUP BY id),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM (
    SELECT c.id_a, c.id_b, count(*) AS inter
    FROM cands c
    JOIN toks3 ta ON ta.id = c.id_a
    JOIN toks3 tb ON tb.id = c.id_b AND tb.token = ta.token
    GROUP BY c.id_a, c.id_b
  ) i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b
  WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= {_CF_THRESH}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  WITH RECURSIVE r(src, node) AS (
    SELECT doc_id, doc_id FROM s3
    UNION
    SELECT r.src, e.b FROM r JOIN edges e ON r.node = e.a
  )
  SELECT src, node FROM r
),
counts AS (
  SELECT (SELECT count(*) FROM t) AS n0,
         (SELECT count(*) FROM s1) AS n1,
         (SELECT count(*) FROM s2) AS n2,
         (SELECT count(*) FROM s3) AS n3,
         (SELECT count(*) FROM (
            SELECT src FROM reach GROUP BY src HAVING src = min(node))) AS n4
)
SELECT 'input' AS stage, n0 AS rows_in, n0 AS rows_out FROM counts
UNION ALL SELECT 'quality_gate', n0, n1 FROM counts
UNION ALL SELECT 'language_filter', n1, n2 FROM counts
UNION ALL SELECT 'exact_dedup', n2, n3 FROM counts
UNION ALL SELECT 'near_dup_dedup', n3, n4 FROM counts
"""


# --------------------------------------------------------------------------
# Data mixing: stratified seeded sampling / global order / packing
# (extensions/mixing.py — map-side sampling, two-phase prefix scans)
# --------------------------------------------------------------------------

_MIX_SEED = 42
_MIX_RATES = {"src0": 0.25, "src1": 0.5, "src2": 1.0, "src3": 1.5,
              "src4": 2.25, "src5": 0.75, "src6": 3.0, "src7": 0.1,
              "src8": 1.0, "src9": 0.6}
_PACK_B = 256

_U_SQL = ("(('0x' || substr(md5('{seed}:' || CAST({col} AS VARCHAR)), 1, 15))"
          "::BIGINT / 1152921504606846976.0)")
_K_SQL = "md5('{seed}:' || CAST({col} AS VARCHAR))"


def curation_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import mixing as MX
    docs = load_table(spark, sf_dir, "documents")
    return MX.stratified_sample(docs, _MIX_RATES, seed=_MIX_SEED) \
        .select("doc_id", "source", "lang", "copy_nr")


SAMPLE_MIX_SQL = f"""
WITH rates(source, rate) AS (VALUES
  {", ".join(f"('{k}', CAST({v} AS DOUBLE))"
             for k, v in sorted(_MIX_RATES.items()))}
),
j AS (
  SELECT d.doc_id, d.source, d.lang, r.rate,
         {_U_SQL.format(seed=_MIX_SEED, col="d.doc_id")} AS u
  FROM documents d JOIN rates r USING (source)
),
c AS (
  SELECT doc_id, source, lang,
         CAST(floor(rate) AS BIGINT)
           + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS n_copies
  FROM j
)
SELECT doc_id, source, lang, CAST(g.copy_nr AS BIGINT) AS copy_nr
FROM c, unnest(generate_series(1, n_copies)) AS g(copy_nr)
WHERE n_copies >= 1
"""


def curation_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import mixing as MX
    docs = load_table(spark, sf_dir, "documents")
    return MX.training_order(docs, seed=_MIX_SEED)


TRAIN_ORDER_SQL = f"""
SELECT doc_id,
       row_number() OVER (
         ORDER BY {_K_SQL.format(seed=_MIX_SEED, col="doc_id")}, doc_id)
       AS position
FROM documents
"""


def curation_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import mixing as MX
    docs = load_table(spark, sf_dir, "documents")
    return MX.pack_chunks(docs, chunk_tokens=_PACK_B, seed=_MIX_SEED)


PACK_CHUNKS_SQL = f"""
WITH lens AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok,
         {_K_SQL.format(seed=_MIX_SEED, col="doc_id")} AS k
  FROM documents
),
pos AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS start_tok
  FROM lens WHERE n_tok > 0
)
SELECT doc_id, n_tok, start_tok,
       CAST(start_tok // {_PACK_B} AS BIGINT) AS first_chunk,
       CAST(((start_tok + n_tok - 1) // {_PACK_B})
         - (start_tok // {_PACK_B}) + 1 AS BIGINT) AS n_chunks
FROM pos
"""


# --------------------------------------------------------------------------
# LSH ANN (random-hyperplane buckets -> candidate pairs -> exact cosine)
# — the planes are md5-derived, so even the approximate index is
# oracle-checked, pinning the bucketing semantics the 100 TB path uses.
# --------------------------------------------------------------------------

_LSH_K, _LSH_PLANES, _LSH_TABLES, _LSH_SEED = 5, 10, 2, 42


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(emb, k=_LSH_K, n_planes=_LSH_PLANES,
                        n_tables=_LSH_TABLES, seed=_LSH_SEED)


LSH_TOPK_SQL = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
proj AS (
  SELECT b.vec_id, t.t, j.j,
         list_sum(list_transform(v, (x, i) ->
           x * (('0x' || substr(md5(
                   CAST({_LSH_SEED} + 1000 * t.t AS VARCHAR) || '_' ||
                   CAST(j.j AS VARCHAR) || '_' ||
                   CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT
                / 4294967296.0 - 0.5))) AS p
  FROM base b, range({_LSH_TABLES}) t(t), range({_LSH_PLANES}) j(j)
),
buckets AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << j)
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
normed AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS n
  FROM base
),
scored AS (
  SELECT c.id_a, c.id_b,
         round(list_sum(list_transform(list_zip(va.v, vb.v),
                                       p -> p[1] * p[2]))
               / (va.n * vb.n), 6) AS sim
  FROM cand c
  JOIN normed va ON va.vec_id = c.id_a
  JOIN normed vb ON vb.vec_id = c.id_b
),
sym AS (
  SELECT id_a, id_b, sim FROM scored
  UNION ALL SELECT id_b, id_a, sim FROM scored
)
SELECT id_a, id_b, sim, rk FROM (
  SELECT id_a, id_b, sim,
         CAST(row_number() OVER (PARTITION BY id_a
                ORDER BY sim DESC, id_b ASC) AS INTEGER) AS rk
  FROM sym
) WHERE rk <= {_LSH_K}
"""


# --------------------------------------------------------------------------
# Sketches: KMV distinct, vocabulary heavy hitters, int8 quantization
# (extensions/sketches.py)
# --------------------------------------------------------------------------

_KMV_K = 64
_VOCAB_K, _VOCAB_MINDF = 50, 2


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import sketches as SK
    ev = load_table(spark, sf_dir, "events")
    return SK.kmv_distinct(ev, "event_type", "user_id", k=_KMV_K)


KMV_SQL = f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT + 1)
           / 1152921504606846976.0 AS u
  FROM d
),
r AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM h
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
       round(CASE WHEN count(*) < {_KMV_K}
                  THEN CAST(count(*) AS DOUBLE)
                  ELSE {_KMV_K - 1} / max(u) END, 4) AS est_distinct
FROM r WHERE rn <= {_KMV_K} GROUP BY event_type
"""


def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import sketches as SK
    docs = load_table(spark, sf_dir, "documents")
    return SK.vocab_topk(docs, k=_VOCAB_K, min_df=_VOCAB_MINDF)


VOCAB_SQL = f"""
WITH pairs AS (
  SELECT doc_id AS _id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
       AS t(token)
),
stats AS (
  SELECT token, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT _id) AS BIGINT) AS df
  FROM pairs GROUP BY token
)
SELECT token, tf, df FROM stats
WHERE df >= {_VOCAB_MINDF}
ORDER BY tf DESC, token ASC LIMIT {_VOCAB_K}
"""


def emb_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import sketches as SK
    emb = load_table(spark, sf_dir, "embeddings")
    return SK.quantize_embeddings(emb)


QUANTIZE_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_reduce(list_transform(v, x -> abs(x)),
                     (a, b) -> greatest(a, b)) / 127.0 AS scale
  FROM base
),
c AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> CAST(round(x / scale) AS BIGINT))
              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
  FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_sum(list_transform(codes, (x, i) -> x * CAST(i AS BIGINT)))
            AS BIGINT) AS code_checksum,
       CAST(list_sum(list_transform(codes,
              x -> CASE WHEN abs(x) = 127 THEN 1 ELSE 0 END))
            AS BIGINT) AS n_sat,
       round(CASE WHEN scale > 0 THEN
               list_sum(list_transform(
                 list_zip(v, codes),
                 p -> pow(p[1] - p[2] * scale, 2.0))) / len(v)
             ELSE 0.0 END, 9) AS mse
FROM c
"""


# --------------------------------------------------------------------------
# Cross-corpus duplicated n-gram coverage (suffix-array-dedup stand-in)
# --------------------------------------------------------------------------

_DUPN = 8


def text_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.dup_ngram_stats(docs, n=_DUPN)


DUP_NGRAMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {_DUPN} + 1)) AS i
  FROM toks WHERE len(toks) >= {_DUPN}
),
grams AS (
  SELECT doc_id,
         array_to_string(list_slice(toks, i, i + {_DUPN} - 1), ' ') AS gram
  FROM pos
),
dg AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram),
gdf AS (SELECT gram, count(*) AS doc_freq FROM dg GROUP BY gram)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN doc_freq >= 2 OR c >= 2 THEN c ELSE 0 END)
            AS BIGINT) AS n_dup,
       round(CAST(sum(CASE WHEN doc_freq >= 2 OR c >= 2 THEN c ELSE 0 END)
                  AS DOUBLE) / sum(c), 6) AS dup_frac
FROM dg JOIN gdf USING (gram)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Sliding-window chunking (RAG / chunk-level dedup keys)
# --------------------------------------------------------------------------

_CHUNK_W, _CHUNK_S = 32, 24


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.chunk_windows(docs, window=_CHUNK_W, stride=_CHUNK_S)


CHUNK_WINDOWS_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, len(toks) - 1, {_CHUNK_S})) AS start
  FROM toks WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(start // {_CHUNK_S} AS BIGINT) AS chunk_idx,
       CAST(least({_CHUNK_W}, len(toks) - start) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(list_slice(toks, start + 1, start + {_CHUNK_W}),
                           ' ')) AS chunk_hash
FROM pos
"""


# --------------------------------------------------------------------------
# Domain mixing weights (DoReMi-lite; extensions/mixing.py)
# --------------------------------------------------------------------------

def curation_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import mixing as MX
    docs = load_table(spark, sf_dir, "documents")
    return MX.domain_mix_weights(docs)


DOMAIN_WEIGHTS_SQL = """
WITH t AS (
  SELECT source, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
q AS (
  SELECT source, CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(round(round(0.4 * least(len(toks) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS DOUBLE) / length(text)), 6) * 1e6) AS BIGINT) AS q_fp
  FROM t
),
per AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(q_fp) AS BIGINT) AS q_fp_sum
  FROM q GROUP BY source
),
w AS (
  SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE))
                       * (CAST(q_fp_sum AS DOUBLE) / n_docs)) AS BIGINT)
            AS raw_fp
  FROM per
)
SELECT source, n_docs, n_tokens,
       round(CAST(q_fp_sum AS DOUBLE) / n_docs / 1e6, 6) AS mean_quality,
       round(CAST(raw_fp AS DOUBLE) / sum(raw_fp) OVER (), 6) AS weight
FROM w
"""


# --------------------------------------------------------------------------
# Unigram cross-entropy / perplexity scoring (CCNet-style filter)
# --------------------------------------------------------------------------

def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.unigram_logprob(docs)


PERPLEXITY_SQL = """
WITH pos AS (
  SELECT doc_id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
       AS t(token)
),
tot AS (SELECT count(*) AS n_total, count(DISTINCT token) AS v_size FROM pos),
vocab AS (SELECT token, count(*) AS c FROM pos GROUP BY token),
lp AS (
  SELECT p.doc_id,
         CAST(round(ln(CAST(v.c + 1 AS DOUBLE)
                       / CAST(t.n_total + t.v_size AS DOUBLE)) * 1e6)
              AS BIGINT) AS lp_fp
  FROM pos p JOIN vocab v USING (token), tot t
)
SELECT doc_id, count(*) AS n_tokens,
       round(-CAST(sum(lp_fp) AS DOUBLE) / count(*) / 1e6, 6)
         AS cross_entropy,
       round(exp(-CAST(sum(lp_fp) AS DOUBLE) / count(*) / 1e6), 6)
         AS perplexity
FROM lp GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# SemDeDup semantic dedup — oracle-gated end-to-end since r5: the query
# variant swaps the KMeans coarse quantizer for the deterministic
# seed-cell assignment (similarity.py:seed_cell_assignments — md5-ranked
# seed vectors, argmax fixed-point cosine, fully relational) and runs
# the SAME within-cell greedy min-id drop with quantize=6, so every
# similarity is an exact-integer dot over one IEEE sqrt/mul/div chain
# and DuckDB restates the whole pipeline (greedy = recursive CTE over
# the per-cell id order). The KMeans default path keeps its brute-force
# greedy-parity test in tests/test_similarity_scale.py.
# --------------------------------------------------------------------------

_SEM_CELLS = 8
# the synthetic embeddings carry no true near-dups (max pairwise
# cosine ~0.51), so the query pins a demo threshold that exercises the
# greedy drop chain (~13% dropped); SemDeDup epsilon is corpus-tuned in
# practice (arXiv:2303.09540 SS4)
_SEM_THRESH = 0.35
_SEM_Q = 6


def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cells = SIM.seed_cell_assignments(emb, n_cells=_SEM_CELLS,
                                      quantize=_SEM_Q)
    return SIM.semantic_dedup(emb, threshold=_SEM_THRESH,
                              assignments=cells, quantize=_SEM_Q)


SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE
q AS (
  SELECT vec_id AS id,
         list_transform(embedding,
                        x -> floor(CAST(x AS DOUBLE) * 1e{_SEM_Q} + 0.5)) AS q
  FROM embeddings
),
sd AS (SELECT id, q, list_inner_product(q, q) AS nn FROM q),
seeds AS (
  SELECT id AS seed_id, q AS sq, nn AS ns,
         CAST(row_number() OVER (ORDER BY h, id) AS INT) AS cluster_id
  FROM (SELECT *,
               ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM sd ORDER BY h, id LIMIT {_SEM_CELLS})
),
cosv AS (
  SELECT v.id, s.cluster_id,
         CASE WHEN v.nn > 0 AND s.ns > 0
              THEN list_inner_product(v.q, s.sq) / (sqrt(v.nn) * sqrt(s.ns))
              ELSE 0.0 END AS c
  FROM sd v CROSS JOIN seeds s
),
assign AS (
  SELECT id, cluster_id
  FROM (SELECT id, cluster_id,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, cluster_id) AS rn
        FROM cosv) t WHERE rn = 1
),
members AS (
  SELECT a.id, a.cluster_id, v.q, v.nn FROM assign a JOIN sd v USING (id)
),
thr AS (
  SELECT x.cluster_id, x.id AS id_lo, y.id AS id_hi
  FROM members x JOIN members y
    ON x.cluster_id = y.cluster_id AND x.id < y.id
  WHERE x.nn > 0 AND y.nn > 0
    AND list_inner_product(x.q, y.q) / (sqrt(x.nn) * sqrt(y.nn))
        >= {_SEM_THRESH}
),
conf AS (
  SELECT cluster_id, id_hi AS id, list(id_lo ORDER BY id_lo) AS lo
  FROM thr GROUP BY cluster_id, id_hi
),
ranked AS (
  SELECT m.cluster_id, m.id,
         row_number() OVER (PARTITION BY m.cluster_id ORDER BY m.id) AS rk,
         coalesce(c.lo, CAST([] AS BIGINT[])) AS lo
  FROM members m LEFT JOIN conf c
    ON c.cluster_id = m.cluster_id AND c.id = m.id
),
rec AS (
  SELECT cluster_id, rk, id, TRUE AS keep, [id] AS kept
  FROM ranked WHERE rk = 1
  UNION ALL
  SELECT r.cluster_id, r.rk, r.id,
         NOT list_has_any(s.kept, r.lo) AS keep,
         CASE WHEN list_has_any(s.kept, r.lo) THEN s.kept
              ELSE list_append(s.kept, r.id) END AS kept
  FROM rec s JOIN ranked r
    ON r.cluster_id = s.cluster_id AND r.rk = s.rk + 1
)
SELECT id, cluster_id, keep FROM rec
"""


# --------------------------------------------------------------------------
# Per-class embedding centroids (IVF seeding / nearest-centroid stats)
# --------------------------------------------------------------------------

def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.label_centroids(emb)


LABEL_CENTROIDS_SQL = """
WITH e AS (
  SELECT CAST(label AS BIGINT) AS label,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(dim := CAST(i - 1 AS BIGINT),
                                      val := CAST(x AS DOUBLE)))) AS u
  FROM embeddings
)
SELECT label, u.dim AS dim, count(*) AS n_vecs,
       round(CAST(sum(CAST(round(u.val * 1e9) AS BIGINT)) AS DOUBLE)
             / count(*) / 1e9, 6) AS mean_val
FROM e GROUP BY label, u.dim
"""


# --------------------------------------------------------------------------
# Weighted per-group sampling without replacement (A-ES)
# --------------------------------------------------------------------------

_WS_K = 5


def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import mixing as MX
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.withColumn("w", TX.quality_expr("text"))
    out = MX.weighted_sample_k(scored, k=_WS_K, weight_col="w",
                               seed=_MIX_SEED)
    return out.select("source", "doc_id", F.col("rn").cast("long").alias("rn"))


WEIGHTED_SAMPLE_SQL = f"""
WITH t AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, source,
         round(0.4 * least(len(toks) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS DOUBLE) / length(text)), 6) AS w
  FROM t
),
keyed AS (
  SELECT doc_id, source,
         pow({_U_SQL.format(seed=_MIX_SEED, col="doc_id")}, 1.0 / w) AS aes
  FROM q WHERE w > 0
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY aes DESC, doc_id) AS rn
  FROM keyed
)
SELECT source, doc_id, rn FROM ranked WHERE rn <= {_WS_K}
"""


# --------------------------------------------------------------------------
# Incremental delta-vs-corpus dedup (the production shape at scale)
# --------------------------------------------------------------------------

_INC_PERM, _INC_BANDS, _INC_THRESH = 16, 4, 0.7


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus = even doc_ids, delta = doc_id % 3 == 0 — the overlap
    (doc_id % 6 == 0) exercises the exact stage, the rest the LSH
    probe; output is one status row per delta doc."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 3 == 0)
    return DD.incremental_dedup(corpus, delta, num_perm=_INC_PERM,
                                bands=_INC_BANDS, threshold=_INC_THRESH)


INCREMENTAL_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
       AS t(token)
),
hashed AS (
  SELECT id, ('0x' || substr(md5(token), 1, 7))::BIGINT % {_M31} AS th
  FROM toks
),
perms AS (
  SELECT range AS perm,
         ('0x' || substr(md5('a42_' || range), 1, 7))::BIGINT
             % ({_M31} - 1) + 1 AS pa,
         ('0x' || substr(md5('b42_' || range), 1, 7))::BIGINT
             % {_M31} AS pb
  FROM range({_INC_PERM})
),
sigs AS (
  SELECT id, perm, min((pa * th + pb) % {_M31}) AS minhash
  FROM hashed CROSS JOIN perms GROUP BY id, perm
),
banded AS (
  SELECT id, perm // {_INC_PERM // _INC_BANDS} AS band,
         md5(string_agg(perm || ':' || minhash, ','
             ORDER BY perm || ':' || minhash)) AS sig
  FROM sigs GROUP BY id, perm // {_INC_PERM // _INC_BANDS}
),
delta AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0),
exact AS (
  SELECT d.doc_id AS id, min(c.doc_id) AS exact_match
  FROM documents d
  JOIN documents c ON md5(d.text) = md5(c.text) AND c.doc_id % 2 = 0
  WHERE d.doc_id % 3 = 0
  GROUP BY d.doc_id
),
cands AS (
  SELECT DISTINCT db.id AS id, cb.id AS cid
  FROM banded db
  JOIN banded cb ON db.band = cb.band AND db.sig = cb.sig
  WHERE db.id % 3 = 0 AND cb.id % 2 = 0
    AND db.id NOT IN (SELECT id FROM exact)
),
sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
inter AS (
  SELECT c.id, c.cid, count(*) AS inter
  FROM cands c
  JOIN toks ta ON ta.id = c.id
  JOIN toks tb ON tb.id = c.cid AND tb.token = ta.token
  GROUP BY c.id, c.cid
),
near AS (
  SELECT i.id, min(i.cid) AS near_match
  FROM inter i
  JOIN sizes sa ON sa.id = i.id
  JOIN sizes sb ON sb.id = i.cid
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_INC_THRESH}
  GROUP BY i.id
)
SELECT d.id AS doc_id,
       CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_match IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS status,
       COALESCE(e.exact_match, nr.near_match) AS match_id
FROM delta d
LEFT JOIN exact e ON e.id = d.id
LEFT JOIN near nr ON nr.id = d.id
"""


# --------------------------------------------------------------------------
# Quality-percentile pruning (train on the best X% of the corpus)
# --------------------------------------------------------------------------

_PRUNE_FRAC = 0.5


def curation_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions import curation as CU
    docs = load_table(spark, sf_dir, "documents")
    kept = CU.quality_prune(docs, keep_frac=_PRUNE_FRAC)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.round(F.min("quality"), 6).alias("min_q"),
        F.round(F.max("quality"), 6).alias("max_q"))


QUALITY_PRUNE_SQL = f"""
WITH t AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, source,
         CAST(round(round(0.4 * least(len(toks) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS DOUBLE) / length(text)), 6) * 1e6) AS BIGINT) AS q_fp
  FROM t
),
ranked AS (
  -- N is defined over SCOREABLE docs only, matching quality_prune's
  -- Spark-side histogram (empty/whitespace docs have NULL quality and
  -- are neither ranked nor counted)
  SELECT *, row_number() OVER (ORDER BY q_fp DESC, doc_id) AS rn,
         count(*) OVER () AS n
  FROM q WHERE q_fp IS NOT NULL
),
kept AS (
  SELECT * FROM ranked WHERE rn <= CAST(ceil(n * {_PRUNE_FRAC}) AS BIGINT)
)
SELECT source, count(*) AS n_kept,
       round(min(q_fp) / 1e6, 6) AS min_q,
       round(max(q_fp) / 1e6, 6) AS max_q
FROM kept GROUP BY source
"""


# --------------------------------------------------------------------------
# Round-4 wave: normalization, vocab coverage, Bloom decontamination,
# per-domain caps
# --------------------------------------------------------------------------

def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization report (text.py:normalize_stats):
    lowercase / non-printable strip / whitespace collapse, md5-prefix
    hash of the normalized text as the case-insensitive dedup key.
    Row-local map-only stage."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.normalize_stats(docs)


NORMALIZE_SQL = """
WITH n AS (
  -- ASCII-strip BEFORE lower, matching text.normalize_expr (full
  -- Unicode lowercasing diverges across engines)
  SELECT doc_id, text,
         trim(regexp_replace(lower(regexp_replace(
              text, '[^ -~]', ' ', 'g')), '\\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id,
       ('0x' || substr(md5(norm), 1, 15))::BIGINT AS norm_hash,
       length(text) AS n_raw,
       length(norm) AS n_norm,
       CAST(norm <> text AS INT) AS changed
FROM n
"""


_OOV_K = 32
_OOV_MIN_DF = 2


def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab coverage (sketches.py:oov_stats): per-doc OOV
    fraction against the corpus' own top-32 vocabulary; broadcast
    semi-join probe, one map-side-combinable count shuffle."""
    from error_analysis_spark.extensions import sketches as SK
    docs = load_table(spark, sf_dir, "documents")
    return SK.oov_stats(docs, vocab_k=_OOV_K, min_df=_OOV_MIN_DF)


OOV_SQL = f"""
WITH tok AS (
  SELECT doc_id, u.token
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents), unnest(t) AS u(token)
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM tok GROUP BY token
  ) WHERE df >= {_OOV_MIN_DF}
  ORDER BY tf DESC, token LIMIT {_OOV_K}
),
per AS (
  SELECT d.doc_id,
         CAST(count(t.token) AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(CASE WHEN t.token IN (SELECT token FROM vocab)
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_in
  FROM documents d LEFT JOIN tok t USING (doc_id)
  GROUP BY d.doc_id
)
SELECT doc_id, n_tokens, n_tokens - n_in AS n_oov,
       round((n_tokens - n_in) / nullif(n_tokens, 0)::DOUBLE, 6) AS oov_frac
FROM per
"""


_BLOOM_N = 5
_BLOOM_M = 1 << 18
_BLOOM_K = 4
_BLOOM_THRESH = 0.3


def text_contam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-bitset decontamination (contamination.py:bloom_contamination):
    same bench/train split as text_contamination, but the bench gram set
    is compressed to a fixed 32 KiB bitset and the corpus probe is a
    row-local expression — zero joins/shuffles on the train side (the
    shape that survives a GB-scale eval suite)."""
    from error_analysis_spark.extensions import contamination as CT
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 13 == 0)
    train = docs.where(F.col("doc_id") % 13 != 0)
    return CT.bloom_contamination(train, bench, n=_BLOOM_N,
                                  m_bits=_BLOOM_M, k_hashes=_BLOOM_K,
                                  threshold=_BLOOM_THRESH)


CONTAM_BLOOM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= {_BLOOM_N} THEN
           list_transform(range(1, len(t) - {_BLOOM_N} + 2),
                          i -> array_to_string(t[i:i+{_BLOOM_N - 1}], ' '))
         ELSE []::VARCHAR[] END) AS gs
  FROM toks
),
pos AS (
  SELECT DISTINCT
         ('0x' || substr(md5(g), 1 + 8 * s.j, 8))::BIGINT % {_BLOOM_M} AS p
  FROM (SELECT DISTINCT g FROM grams, unnest(gs) AS u(g)
        WHERE doc_id % 13 = 0) bg,
       unnest(range({_BLOOM_K})) AS s(j)
),
dg AS (
  SELECT doc_id, u.g,
         ('0x' || substr(md5(u.g), 1 + 8 * s.j, 8))::BIGINT % {_BLOOM_M} AS myp
  FROM grams, unnest(gs) AS u(g), unnest(range({_BLOOM_K})) AS s(j)
  WHERE doc_id % 13 <> 0
),
gh AS (
  SELECT doc_id, g,
         (count(pos.p) = {_BLOOM_K}) AS hit
  FROM dg LEFT JOIN pos ON pos.p = dg.myp
  GROUP BY doc_id, g
),
per AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(coalesce(sum(CASE WHEN hit THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_hits
  FROM gh GROUP BY doc_id
)
SELECT g.doc_id,
       CAST(coalesce(per.n_grams, 0) AS INT) AS n_grams,
       CAST(coalesce(per.n_hits, 0) AS INT) AS n_hits,
       round(CASE WHEN coalesce(per.n_grams, 0) > 0
             THEN per.n_hits::DOUBLE / per.n_grams END, 6) AS contam_frac,
       coalesce(per.n_hits::DOUBLE / per.n_grams >= {_BLOOM_THRESH}, FALSE)
           AS contaminated
FROM grams g LEFT JOIN per USING (doc_id)
WHERE g.doc_id % 13 <> 0
"""


_QTILE_QS = (0.5, 0.9, 0.99)


def sketch_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group discrete quantiles via the bounded fixed-point
    histogram (sketches.py:grouped_quantiles) — no per-group sort of
    the corpus; cumulative windows run over the histogram only."""
    from error_analysis_spark.extensions import sketches as SK
    ev = load_table(spark, sf_dir, "events")
    return SK.grouped_quantiles(ev, "event_type", "value", qs=_QTILE_QS)


# (q double, q-in-1/10000 integer) literal pairs — the rank is integer
# arithmetic on BOTH engines; float ceil(q*n) is off by one whenever
# q*n rounds up across an integer (see sketches.grouped_quantiles)
_QTILE_PAIRS = ", ".join(
    f"({float(q)!r}, {int(round(float(q) * 10000))})" for q in _QTILE_QS)

GROUPED_QTILE_SQL = f"""
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vfp
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, vfp,
         row_number() OVER (PARTITION BY event_type ORDER BY vfp) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
)
SELECT event_type, q.q, round(min(vfp) / 100.0, 6) AS v
FROM r CROSS JOIN (VALUES {_QTILE_PAIRS}) AS q(q, qi)
WHERE rn = (q.qi * n + 9999) // 10000
GROUP BY event_type, q.q
"""


_DOMAIN_CAP = 8


def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (curation.py:domain_cap): keep the top
    `cap` docs per source by quality — grouped histogram + per-domain
    cutoff join, no corpus-wide window (a hot domain never funnels
    through one partition)."""
    from error_analysis_spark.extensions import curation as CU
    docs = load_table(spark, sf_dir, "documents")
    kept = CU.domain_cap(docs, cap=_DOMAIN_CAP)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.round(F.min("quality"), 6).alias("min_q"),
        F.sum("doc_id").alias("id_checksum"))


DOMAIN_CAP_SQL = f"""
WITH t AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, source,
         CAST(round(round(0.4 * least(len(toks) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS DOUBLE) / length(text)), 6) * 1e6) AS BIGINT) AS q_fp
  FROM t
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY q_fp DESC, doc_id) AS rn
  FROM q WHERE q_fp IS NOT NULL
),
kept AS (SELECT * FROM ranked WHERE rn <= {_DOMAIN_CAP})
SELECT source, count(*) AS n_kept,
       round(min(q_fp) / 1e6, 6) AS min_q,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM kept GROUP BY source
"""


# --------------------------------------------------------------------------
# Round-4 wave 2: holdout split, length buckets, CMS audit, JL projection,
# snapshot diff, robust outliers
# --------------------------------------------------------------------------

_SPLIT_FRACS = (0.9, 0.05, 0.05)
_SPLIT_NAMES = ("train", "val", "test")
_SPLIT_SEED = 7


def curation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test holdout (mixing.py:hash_split):
    md5-uniform interval assignment — map-only, stable under
    repartitioning AND corpus growth. Report per (split, source)."""
    from error_analysis_spark.extensions import mixing as MX
    docs = load_table(spark, sf_dir, "documents")
    split = MX.hash_split(docs, fracs=_SPLIT_FRACS, names=_SPLIT_NAMES,
                          seed=_SPLIT_SEED)
    return split.groupBy("split", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("char_sum"))


def _split_bounds() -> list[tuple[float, str]]:
    # identical float accumulation to mixing.hash_split, so the SQL
    # literals are the very doubles Spark compares against
    cum, out = 0.0, []
    for frac, name in zip(_SPLIT_FRACS, _SPLIT_NAMES):
        cum += float(frac)
        out.append((cum, name))
    return out


_SPLIT_CASE = " ".join(
    f"WHEN u < {upper!r} THEN '{name}'" for upper, name in _split_bounds())

SPLIT_SQL = f"""
WITH s AS (
  SELECT doc_id, source, n_chars,
         {_U_SQL.format(seed=_SPLIT_SEED, col="doc_id")} AS u
  FROM documents
),
t AS (
  SELECT doc_id, source, n_chars,
         CASE {_SPLIT_CASE} END AS split
  FROM s
)
SELECT split, source, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum
FROM t WHERE split IS NOT NULL
GROUP BY split, source
"""


def curation_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report for length-bucketed batching
    (mixing.py:length_buckets): next-pow-2 bucket per doc (bounded,
    ~30 buckets at any corpus size), pad = bucket - n_tok."""
    from error_analysis_spark.extensions import mixing as MX
    docs = load_table(spark, sf_dir, "documents")
    b = MX.length_buckets(docs)
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("token_sum"),
        F.sum("pad").alias("pad_sum"),
        F.round(F.sum("pad") / (F.sum("pad") + F.sum("n_tok")), 6)
        .alias("pad_frac"))


LENGTH_BUCKETS_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
b AS (
  SELECT doc_id, n_tok,
         greatest(CAST(power(2, ceil(log2(CAST(n_tok AS DOUBLE))))
                       AS BIGINT), 1) AS bucket
  FROM t WHERE n_tok > 0
)
SELECT bucket, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS token_sum,
       CAST(sum(bucket - n_tok) AS BIGINT) AS pad_sum,
       round(sum(bucket - n_tok)
             / CAST(sum(bucket) AS DOUBLE), 6) AS pad_frac
FROM b GROUP BY bucket
"""


_CMS_D = 4
_CMS_W = 1024
_CMS_K = 15


def sketch_cms_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch audit (sketches.py:cms_topk): d x w md5-hashed
    counter grid, est = min over rows; reports est - exact for the
    top-15 tokens — the sketch's real collision overcount."""
    from error_analysis_spark.extensions import sketches as SK
    docs = load_table(spark, sf_dir, "documents")
    return SK.cms_topk(docs, d=_CMS_D, w=_CMS_W, k=_CMS_K)


CMS_SQL = f"""
WITH tok AS (
  SELECT u.token
  FROM (SELECT list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents), unnest(t) AS u(token)
),
tf AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
hashed AS (
  SELECT token, tf, s.j,
         ('0x' || substr(md5(s.j || ':' || token), 1, 15))::BIGINT
           % {_CMS_W} AS col
  FROM tf, unnest(range({_CMS_D})) AS s(j)
),
cells AS (SELECT j, col, CAST(sum(tf) AS BIGINT) AS cell
          FROM hashed GROUP BY j, col),
top AS (SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT {_CMS_K}),
est AS (
  SELECT h.token, h.tf, min(c.cell) AS tf_est
  FROM hashed h JOIN cells c USING (j, col)
  WHERE h.token IN (SELECT token FROM top)
  GROUP BY h.token, h.tf
)
SELECT token, tf, tf_est, tf_est - tf AS overcount FROM est
"""


_RP_OUT_DIM = 8
_RP_SEED = 3


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL dimensionality reduction (similarity.py:random_project):
    hash-derived Rademacher matrix, broadcast join + one (id, out_j)
    partial-agg shuffle; fixed-point term sums for cross-engine
    exactness."""
    from error_analysis_spark.extensions import similarity as SIM2
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM2.random_project(emb, out_dim=_RP_OUT_DIM, seed=_RP_SEED)


RANDOM_PROJECTION_SQL = f"""
WITH e AS (
  SELECT vec_id,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(dim := CAST(i - 1 AS BIGINT),
                                      val := CAST(x AS DOUBLE)))) AS u
  FROM embeddings
),
p AS (
  SELECT d.dim, o.out_j,
         CASE WHEN ('0x' || substr(md5('{_RP_SEED}' || '_' || d.dim
                                       || '_' || o.out_j), 1, 15))::BIGINT
                   % 2 = 0
              THEN 1 ELSE -1 END AS sign
  FROM (SELECT unnest(range((SELECT max(len(embedding)) FROM embeddings)))
          AS dim) d,
       (SELECT unnest(range({_RP_OUT_DIM})) AS out_j) o
)
SELECT e.vec_id, p.out_j,
       round(CAST(sum(CAST(round(e.u.val * 1e6) AS BIGINT) * p.sign)
                  AS DOUBLE) / 1e6 * (1.0 / sqrt({_RP_OUT_DIM}.0)), 6)
         + 0.0 AS proj
FROM e JOIN p ON p.dim = e.u.dim
GROUP BY e.vec_id, p.out_j
"""


def curation_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (curation.py:corpus_delta): old = ids not
    divisible by 5, new = ids not divisible by 7 with every 11th doc's
    text rewritten — exercises added/removed/changed/same on one
    co-partitioned full-outer hash join of (id, content-hash) pairs."""
    from error_analysis_spark.extensions import curation as CU
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = (docs.where(F.col("doc_id") % 7 != 0)
           .withColumn("text", F.when(F.col("doc_id") % 11 == 0,
                                      F.upper(F.col("text")))
                       .otherwise(F.col("text"))))
    delta = CU.corpus_delta(old, new)
    return delta.groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("id_checksum"))


SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
  FROM documents WHERE doc_id % 5 <> 0
),
new AS (
  SELECT doc_id,
         ('0x' || substr(md5(CASE WHEN doc_id % 11 = 0 THEN upper(text)
                              ELSE text END), 1, 15))::BIGINT AS h
  FROM documents WHERE doc_id % 7 <> 0
),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              -- null-safe: two NULL-text snapshots of a doc are 'same'
              WHEN o.h IS NOT DISTINCT FROM n.h THEN 'same'
              ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM j GROUP BY status
"""


def w6_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust outlier counts (sketches.py:robust_outliers):
    median/MAD modified z-score computed on the bounded fixed-point
    histogram — integer threshold arithmetic, no per-group sort."""
    from error_analysis_spark.extensions import sketches as SK
    ev = load_table(spark, sf_dir, "events")
    return SK.robust_outliers(ev, "event_type", "value")


OUTLIER_MAD_SQL = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vfp
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, vfp,
         row_number() OVER (PARTITION BY event_type ORDER BY vfp) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type, vfp AS med, n
  FROM r WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
),
d AS (
  SELECT v.event_type, abs(v.vfp - m.med) AS dev, m.med
  FROM v JOIN med m USING (event_type)
),
dr AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
mad AS (
  SELECT event_type, dev AS mad
  FROM dr WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
),
fl AS (
  SELECT d.event_type, d.med, m.mad,
         CASE WHEN 6745 * d.dev > 35000 * m.mad THEN 1 ELSE 0 END AS isout
  FROM d JOIN mad m USING (event_type)
)
SELECT f.event_type, me.n,
       round(f.med / 100.0, 6) AS median,
       round(f.mad / 100.0, 6) AS mad,
       CASE WHEN f.mad > 0 THEN CAST(sum(f.isout) AS BIGINT) END
         AS n_outliers
FROM fl f JOIN med me USING (event_type)
GROUP BY f.event_type, me.n, f.med, f.mad
"""


_TFIDF_K = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per doc (text.py:tfidf_topk_per_doc):
    integer score ranking, per-document rank window bounded by doc
    vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.tfidf_topk_per_doc(docs, k=_TFIDF_K)


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents WHERE len(list_filter(regexp_split_to_array(text, '\\s+'),
                                       x -> x <> '')) > 0
),
pairs AS (
  SELECT doc_id, u.token, count(*) AS tf
  FROM toks, unnest(t) AS u(token)
  GROUP BY doc_id, u.token
),
dfreq AS (SELECT token, count(*) AS df FROM pairs GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM toks),
sc AS (
  SELECT p.doc_id, p.token, p.tf,
         p.tf * CAST(round((ln((n.n_docs + 1)
                               / CAST(dfreq.df + 1 AS DOUBLE)) + 1.0)
                           * 1e6) AS BIGINT) AS s_fp
  FROM pairs p JOIN dfreq USING (token) CROSS JOIN n
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY s_fp DESC, token) AS rank
  FROM sc
)
SELECT doc_id, CAST(rank AS INT) AS rank, token,
       CAST(tf AS BIGINT) AS tf,
       round(s_fp / 1e6, 6) AS score
FROM r WHERE rank <= {_TFIDF_K}
"""


_CONT_THRESH = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (dedup.py:containment_pairs):
    |A∩B|/|A| — catches a small doc pasted inside a big one, which
    Jaccard structurally misses. Inverted-index candidates with the
    same 50%-df hot-token cap the jaccard headline runs (the form
    you'd run at scale — the oracle pins the pruned semantics), exact
    row-local set verify; aggregated per containing doc (the raw pair
    set is large on this self-similar synthetic corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.containment_pairs(docs, threshold=_CONT_THRESH,
                                 max_df=0.5)
    # report per doc: in how many pairs it CONTAINS the partner
    contains = F.when(
        (F.col("cont_a") >= _CONT_THRESH)
        & (F.col("sz_a") <= F.col("sz_b")), F.col("id_b")) \
        .otherwise(F.when((F.col("cont_b") >= _CONT_THRESH)
                          & (F.col("sz_b") < F.col("sz_a")),
                          F.col("id_a")))
    out = (pairs.withColumn("_big", contains)
           .where(F.col("_big").isNotNull())
           .groupBy(F.col("_big").alias("container_id"))
           .agg(F.count("*").alias("n_contained"),
                F.sum("inter").alias("inter_sum")))
    # containment_pairs returns a persisted pair table (caller-release
    # contract); materialize the tiny per-container aggregate and
    # release the corpus-scale cache here
    out = out.localCheckpoint(eager=True)
    pairs.unpersist()
    return out


CONTAINMENT_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
       AS t(token)
),
sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
tok_df AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
nd AS (
  SELECT greatest(1, CAST(floor(count(*) * 0.5) AS BIGINT)) AS max_df
  FROM documents
),
posting AS (
  SELECT t.id, t.token
  FROM toks t JOIN tok_df d ON t.token = d.token, nd
  WHERE d.df <= nd.max_df
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM posting a JOIN posting b ON a.token = b.token AND a.id < b.id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN toks ta ON ta.id = c.id_a
  JOIN toks tb ON tb.id = c.id_b AND tb.token = ta.token
  GROUP BY c.id_a, c.id_b
),
p AS (
  SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
         CAST(inter AS DOUBLE) / sa.sz AS cont_a,
         CAST(inter AS DOUBLE) / sb.sz AS cont_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE greatest(CAST(inter AS DOUBLE) / sa.sz,
                 CAST(inter AS DOUBLE) / sb.sz) >= {_CONT_THRESH}
),
big AS (
  SELECT CASE WHEN cont_a >= {_CONT_THRESH} AND sz_a <= sz_b THEN id_b
              WHEN cont_b >= {_CONT_THRESH} AND sz_b < sz_a THEN id_a
         END AS container_id, inter
  FROM p
)
SELECT container_id, count(*) AS n_contained,
       CAST(sum(inter) AS BIGINT) AS inter_sum
FROM big WHERE container_id IS NOT NULL
GROUP BY container_id
"""


# --------------------------------------------------------------------------
# Round-4 wave 3: bigram LM, embedding covariance, dataset card
# --------------------------------------------------------------------------

def text_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram cross-entropy / perplexity against the corpus's own
    bigram model (text.py:bigram_logprob): add-one smoothing on the
    prefix-conditional; row-local bigram pre-counts, two map-side-
    combinable vocab aggs, fixed-point log sums."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.bigram_logprob(docs)


BIGRAM_PPL_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, u.g
  FROM (SELECT doc_id,
               list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1]) AS gs
        FROM toks WHERE len(t) >= 2), unnest(gs) AS u(g)
),
bi AS (SELECT g, count(*) AS c12 FROM bg GROUP BY g),
pre AS (
  SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
  FROM bi GROUP BY split_part(g, ' ', 1)
),
v AS (
  SELECT count(DISTINCT u.token) AS v_size
  FROM toks, unnest(t) AS u(token)
),
sc AS (
  SELECT bg.doc_id,
         CAST(round(ln((bi.c12 + 1) / CAST(pre.c1 + v.v_size AS DOUBLE))
                    * 1e6) AS BIGINT) AS lp
  FROM bg JOIN bi USING (g)
  JOIN pre ON pre.w1 = split_part(bg.g, ' ', 1)
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lp) AS BIGINT) AS s
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(-(CAST(s AS DOUBLE)) / n_bigrams / 1e6, 6) AS cross_entropy,
       round(exp(-(CAST(s AS DOUBLE)) / n_bigrams / 1e6), 6) AS perplexity
FROM agg
"""


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix of the embedding dimensions
    (similarity.py:embedding_covariance) — the Gram-accumulation pass
    under PCA/whitening; fixed-point moment sums, upper triangle."""
    from error_analysis_spark.extensions import similarity as SIM2
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM2.embedding_covariance(emb)


EMB_COV_SQL = """
WITH e AS (
  SELECT vec_id,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(dim := CAST(i - 1 AS BIGINT),
                                      xf := CAST(round(CAST(x AS DOUBLE)
                                                       * 1e6) AS BIGINT))))
           AS u
  FROM embeddings
),
m AS (
  SELECT a.u.dim AS i, b.u.dim AS j,
         CAST(count(*) AS BIGINT) AS n,
         sum(a.u.xf * b.u.xf) AS sxy,
         CAST(sum(a.u.xf) AS BIGINT) AS sx,
         CAST(sum(b.u.xf) AS BIGINT) AS sy
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.u.dim <= b.u.dim
  GROUP BY a.u.dim, b.u.dim
)
SELECT i, j, n,
       round((CAST(sxy AS DOUBLE) / 1e12
              - (CAST(sx AS DOUBLE) / 1e6)
                * (CAST(sy AS DOUBLE) / 1e6) / n) / n, 6) + 0.0 AS cov
FROM m
"""


def curation_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (curation.py:data_card): volume, mean
    quality, language diversity (entropy over the per-source language
    histogram) — one (source, lang) agg + a bounded rollup."""
    from error_analysis_spark.extensions import curation as CU
    docs = load_table(spark, sf_dir, "documents")
    return CU.data_card(docs)


DATA_CARD_SQL = """
WITH t AS (
  SELECT doc_id, source, lang, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, source, lang,
         CAST(len(toks) AS BIGINT) AS nt,
         CAST(round(round(0.4 * least(len(toks) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      AS DOUBLE) / length(text)), 6) * 1e6) AS BIGINT) AS q_fp
  FROM t
),
pl AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(nt) AS BIGINT) AS tk,
         CAST(sum(q_fp) AS BIGINT) AS qs,
         CAST(count(q_fp) AS BIGINT) AS cq
  FROM q GROUP BY source, lang
),
pe AS (
  SELECT *, CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n,
         CAST(round(-(c / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE))
                    * ln(c / CAST(sum(c) OVER (PARTITION BY source)
                                  AS DOUBLE)) * 1e6) AS BIGINT) AS e
  FROM pl
)
SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(sum(tk) AS BIGINT) AS n_tokens,
       round(CAST(sum(qs) AS DOUBLE) / CAST(sum(cq) AS DOUBLE) / 1e6, 6)
         AS mean_quality,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       round(CAST(sum(e) AS DOUBLE) / 1e6, 6) AS lang_entropy
FROM pe GROUP BY source
"""


def curation_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PSI drift vs the corpus length distribution
    (curation.py:distribution_drift): one scan + one bounded
    (source, bin) aggregate; share-space smoothed probabilities over a
    dense group×bin grid, fixed-point Σ(p−q)ln(p/q) terms."""
    from error_analysis_spark.extensions import curation as CU
    docs = load_table(spark, sf_dir, "documents")
    return CU.distribution_drift(docs)


DRIFT_PSI_SQL = """
WITH b AS (
  SELECT source,
         greatest(CAST(0 AS BIGINT),
                  least(CAST(floor(n_chars / 64.0) AS BIGINT), 15)) AS bin
  FROM documents
),
per AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c
        FROM b GROUP BY source, bin),
gt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY source),
gl AS (SELECT bin, CAST(sum(c) AS BIGINT) AS gc FROM per GROUP BY bin),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM per),
grid AS (
  SELECT gt.source, gt.n, r.bin
  FROM gt CROSS JOIN (SELECT unnest(range(16)) AS bin) r
),
j AS (
  SELECT grid.source,
         (COALESCE(per.c, 0) / grid.n + 1e-4) / (1.0 + 1e-4 * 16) AS p,
         (COALESCE(gl.gc, 0) / tot.N + 1e-4) / (1.0 + 1e-4 * 16) AS q
  FROM grid
  LEFT JOIN per ON per.source = grid.source AND per.bin = grid.bin
  LEFT JOIN gl ON gl.bin = grid.bin
  CROSS JOIN tot
)
SELECT source,
       round(CAST(sum(CAST(round((p - q) * ln(p / q) * 1e6) AS BIGINT))
                  AS DOUBLE) / 1e6, 6) AS psi
FROM j GROUP BY source
"""


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate via HyperLogLog
    (sketches.py:hll_distinct): exact integer register path
    (md5-prefix split + bin-length rank), (group, bucket) MAX
    aggregate bounded by groups × 512 at any scale, fixed-point
    harmonic sum. The register-based counterpart to the KMV sketch."""
    from error_analysis_spark.extensions import sketches as SK
    ev = load_table(spark, sf_dir, "events")
    return SK.hll_distinct(ev, "event_type", "user_id")


def _hll_oracle() -> str:
    from error_analysis_spark.extensions.sketches import hll_distinct_sql
    return hll_distinct_sql("events", "event_type", "user_id")


def curation_argmax_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document-per-source selection (keep-longest dedup):
    ONE struct-max aggregate — max(struct(n_chars, doc_id)) gives the
    argmax with a deterministic tie (larger doc_id wins), map-side
    combinable, one shuffle bounded by the group count. The common
    row_number()-over-window form (which the DuckDB oracle runs as the
    equivalence check) sorts every group's full row set instead; at
    100 TB the struct-max never materializes more than one row per
    group per partition."""
    docs = load_table(spark, sf_dir, "documents") \
        .select("source", "n_chars", "doc_id")
    return (docs.groupBy("source")
            .agg(F.max(F.struct("n_chars", "doc_id")).alias("_m"))
            .select("source",
                    F.col("_m.n_chars").alias("n_chars"),
                    F.col("_m.doc_id").alias("doc_id")))


ARGMAX_DOC_SQL = """
SELECT source, n_chars, doc_id FROM (
  SELECT source, n_chars, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id DESC) AS rn
  FROM documents
) WHERE rn = 1
"""


def olap_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional rollup over (source, lang) via CUBE: doc
    counts and total chars at every grouping granularity in ONE pass
    — Expand ×4 feeds a single map-side-combinable hash aggregate
    whose output is bounded by the (sources+1)×(langs+1) grid.
    Subtotal rows surface as 'ALL' (the corpus has no NULL dimension
    values, asserted upstream by the data card)."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.cube("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"))
            .select(F.coalesce("source", F.lit("ALL")).alias("source"),
                    F.coalesce("lang", F.lit("ALL")).alias("lang"),
                    "n_docs", "total_chars"))


CUBE_SQL = """
SELECT coalesce(source, 'ALL') AS source,
       coalesce(lang, 'ALL') AS lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY CUBE (source, lang)
"""


def emb_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier accuracy per label
    (similarity.py:nearest_centroid_eval): broadcast |classes|×dims
    centroid table, one corpus repartition reused by every stacked
    aggregate, fixed-point dot products, argmax cosine with a
    deterministic tie to the smaller label."""
    from error_analysis_spark.extensions import similarity as SIM
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.nearest_centroid_eval(emb)


CENTROID_EVAL_SQL = """
WITH e AS (
  SELECT vec_id, CAST(label AS BIGINT) AS tl,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(dim := CAST(i - 1 AS BIGINT),
                                      val := CAST(x AS DOUBLE)))) AS u
  FROM embeddings
),
cents AS (
  SELECT tl AS cl, u.dim AS dim,
         round(CAST(sum(CAST(round(u.val * 1e9) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e9, 6) AS mean_val
  FROM e GROUP BY tl, u.dim
),
cn AS (
  SELECT cl,
         sqrt(CAST(sum(CAST(round(mean_val * mean_val * 1e12) AS BIGINT))
                   AS DOUBLE) / 1e12) AS cnorm
  FROM cents GROUP BY cl
),
dots AS (
  SELECT e.vec_id, e.tl, c.cl,
         CAST(sum(CAST(round(e.u.val * c.mean_val * 1e9) AS BIGINT))
              AS BIGINT) AS dot
  FROM e JOIN cents c ON e.u.dim = c.dim
  GROUP BY e.vec_id, e.tl, c.cl
),
pred AS (
  SELECT vec_id, tl,
         max(struct_pack(s := (CAST(dot AS DOUBLE) / 1e9) / cn.cnorm,
                         nl := -cl)) AS m
  FROM dots JOIN cn USING (cl)
  GROUP BY vec_id, tl
)
SELECT tl AS label, count(*) AS n_vecs,
       CAST(sum(CASE WHEN tl = -m.nl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(sum(CASE WHEN tl = -m.nl THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM pred GROUP BY tl
"""


_PMI_VOCAB = 40
_PMI_K = 20


def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by document co-occurrence PMI
    (text.py:pmi_pairs): broadcast top-40 vocabulary, row-local pair
    generation from each doc's sorted vocab-token set (no corpus
    self-join), exact integer counts, one ln per surviving pair."""
    from error_analysis_spark.extensions import text as TX
    docs = load_table(spark, sf_dir, "documents")
    return TX.pmi_pairs(docs, vocab_k=_PMI_VOCAB, top_k=_PMI_K)


PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id AS _id, t.token
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                          x -> x <> '')) AS t(token)
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS tf FROM toks GROUP BY token
    ORDER BY tf DESC, token LIMIT {_PMI_VOCAB})
),
inc AS (
  SELECT DISTINCT _id, token FROM toks SEMI JOIN vocab USING (token)
),
dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
          FROM inc GROUP BY token),
n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
pairs AS (
  SELECT a.token AS t1, b.token AS t2, CAST(count(*) AS BIGINT) AS n_pair
  FROM inc a JOIN inc b ON a._id = b._id AND a.token < b.token
  GROUP BY a.token, b.token
)
SELECT t1, t2, n_pair, d1.df AS df1, d2.df AS df2,
       round(ln(CAST(CAST(n_pair AS HUGEINT) * nd AS DOUBLE)
                / CAST(CAST(d1.df AS HUGEINT) * d2.df AS DOUBLE)), 4)
         AS pmi
FROM pairs
JOIN dfreq d1 ON t1 = d1.token
JOIN dfreq d2 ON t2 = d2.token
CROSS JOIN n
ORDER BY n_pair DESC, t1, t2
LIMIT {_PMI_K}
"""


def curation_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration deciles (curation.py:pareto_curve): one
    bounded value-histogram aggregate + driver cumsum, exact integer
    rank cuts, tie-exact mass — no global sort at any corpus size."""
    from error_analysis_spark.extensions import curation as CU
    docs = load_table(spark, sf_dir, "documents")
    return CU.pareto_curve(docs)


PARETO_SQL = """
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                  CAST(sum(n_chars) AS BIGINT) AS m FROM documents),
r AS (SELECT n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id DESC) AS rn
      FROM documents),
f AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS i),
k AS (SELECT i, CAST((i * nd + 9) // 10 AS BIGINT) AS kk, m
      FROM f CROSS JOIN n)
SELECT k.i AS frac_tenths, k.kk AS n_docs,
       round(CAST(sum(r.n_chars) AS DOUBLE) / k.m, 6) AS value_frac
FROM k JOIN r ON r.rn <= k.kk
GROUP BY k.i, k.kk, k.m
"""


def curation_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent whole-corpus content checksum (dataset
    versioning / transfer-integrity gate): per-row md5-prefix hash of
    (doc_id, content-hash), combined with BOTH a commutative XOR and a
    128-bit sum plus the row count — one map-side-combinable aggregate,
    no shuffle beyond the 1-row reduce, identical at any partitioning.
    Two combiners because XOR alone is blind to duplicated rows (x⊕x=0)
    while the sum alone is blind to certain swap patterns; together
    with n they pin the multiset."""
    from error_analysis_spark.extensions.text import doc_row_hash
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select(doc_row_hash().alias("_h"))
            .agg(F.count("*").alias("n_rows"),
                 F.expr("bit_xor(_h)").alias("xor_hash"),
                 F.sum(F.col("_h").cast("decimal(38,0)"))
                 .cast("string").alias("sum_hash")))


CHECKSUM_SQL = """
WITH h AS (
  SELECT CAST(('0x' || substr(md5(
           CAST(doc_id AS VARCHAR) || chr(31) ||
           md5(COALESCE(text, ''))), 1, 15)) AS BIGINT) AS hv
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       bit_xor(hv) AS xor_hash,
       CAST(CAST(sum(CAST(hv AS HUGEINT)) AS HUGEINT) AS VARCHAR)
         AS sum_hash
FROM h
"""


def curation_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO applied to the documents snapshot
    (curation.py:merge_upsert) with a deterministic synthetic delta —
    ids ≡ 0 (mod 7) upserted with rewritten text, ids ≡ 3 (mod 13)
    AND not ≡ 0 (mod 7) deleted (the exclusion keeps the delta
    key-unique — merge_upsert's SQL-MERGE precondition; an id with
    both an upsert and a delete row would fan out through the join),
    and shifted new ids inserted — then summarized per action with an
    order-independent content XOR so the whole merged snapshot is
    pinned by one row-count + checksum row per action."""
    from error_analysis_spark.extensions import curation as CU
    from error_analysis_spark.extensions.text import doc_row_hash
    docs = load_table(spark, sf_dir, "documents")
    ups = (docs.where(F.col("doc_id") % 7 == 0)
           .select("doc_id", F.upper(F.col("text")).alias("text"),
                   "lang", "source", "n_chars",
                   F.lit("upsert").alias("_op")))
    dels = (docs.where((F.col("doc_id") % 13 == 3)
                       & (F.col("doc_id") % 7 != 0))
            .select("doc_id", "text", "lang", "source", "n_chars",
                    F.lit("delete").alias("_op")))
    ins = (docs.where(F.col("doc_id") % 11 == 5)
           .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"),
                   "text", "lang", "source", "n_chars",
                   F.lit("upsert").alias("_op")))
    merged = CU.merge_upsert(docs, ups.unionByName(dels)
                             .unionByName(ins))
    return (merged.select("_action", doc_row_hash().alias("_h"))
            .groupBy("_action")
            .agg(F.count("*").alias("n_rows"),
                 F.expr("bit_xor(_h)").alias("xor_hash"))
            .select(F.col("_action").alias("action"), "n_rows",
                    "xor_hash"))


MERGE_SQL = """
WITH ups AS (
  SELECT doc_id, upper(text) AS text FROM documents WHERE doc_id % 7 = 0
),
dels AS (SELECT doc_id FROM documents
         WHERE doc_id % 13 = 3 AND doc_id % 7 <> 0),
ins AS (SELECT doc_id + 1000000000 AS doc_id, text
        FROM documents WHERE doc_id % 11 = 5),
delta AS (
  SELECT doc_id, text, 'upsert' AS op FROM ups
  UNION ALL SELECT doc_id, NULL, 'delete' FROM dels
  UNION ALL SELECT doc_id, text, 'upsert' FROM ins
),
m AS (
  SELECT COALESCE(t.doc_id, d.doc_id) AS doc_id,
         CASE WHEN d.doc_id IS NOT NULL AND d.op <> 'delete'
              THEN d.text ELSE t.text END AS text,
         CASE WHEN d.doc_id IS NOT NULL AND d.op = 'delete'
                   AND t.doc_id IS NOT NULL THEN 'delete'
              WHEN d.doc_id IS NOT NULL AND d.op = 'delete' THEN 'noop'
              WHEN d.doc_id IS NOT NULL AND t.doc_id IS NOT NULL
                   THEN 'update'
              WHEN d.doc_id IS NOT NULL THEN 'insert'
              ELSE 'keep' END AS action
  FROM documents t FULL OUTER JOIN delta d ON t.doc_id = d.doc_id
)
SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(('0x' || substr(md5(
                CAST(doc_id AS VARCHAR) || chr(31) ||
                md5(COALESCE(text, ''))), 1, 15)) AS BIGINT)) AS xor_hash
FROM m
WHERE action IN ('keep', 'update', 'insert')
GROUP BY action
"""


# --------------------------------------------------------------------------
# Ingest sources/sinks promoted into the oracle contract (r05 wave 4):
# the CSV quarantine scan and the small-files compaction sink, each
# driven end-to-end through real files and pinned by content checksums
# the DuckDB oracle restates from the documents view.
# --------------------------------------------------------------------------

_CSV_SEP = "\x1f"


def _ingest_tmp(spark: SparkSession, kind: str, sf_dir: str) -> str:
    import hashlib as _hl
    import tempfile
    # per-(session, sf) path: deterministic within a session (repeat
    # invocations overwrite, not accumulate) but isolated across
    # concurrent sessions (driver verify + local pytest would otherwise
    # race on the same directory)
    tag = _hl.md5(f"{spark.sparkContext.applicationId}:{sf_dir}"
                  .encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"eas_{kind}_{tag}")


def ingest_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV quarantine source (sources/ingest.py:read_documents_csv)
    driven end-to-end: the documents table is re-shipped as \\x1f-
    separated CSV text with every doc_id ≡ 0 (mod 13) line corrupted
    (non-numeric id field), read back schema-pinned in PERMISSIVE mode
    with `_corrupt_record` quarantine, and summarized as per-(source,
    lang) good-row stats plus one quarantine row. The md5-XOR over
    (id, text) on the good side and over the RAW line on the
    quarantine side prove byte-identical parsing and raw-line capture;
    the oracle restates both from the parquet view."""
    from error_analysis_spark.extensions.text import md5_prefix_long
    from error_analysis_spark.sources import ingest as IG
    docs = load_table(spark, sf_dir, "documents")
    tmp = _ingest_tmp(spark, "csvq", sf_dir)
    good_line = F.concat_ws(
        _CSV_SEP, F.col("doc_id").cast("string"), F.col("text"),
        F.col("lang"), F.col("source"), F.col("n_chars").cast("string"))
    line = F.when(F.col("doc_id") % 13 == 0,
                  F.concat(F.lit("X"), good_line)).otherwise(good_line)
    docs.select(line.alias("value")).write.mode("overwrite").text(tmp)
    # localCheckpoint: (a) Spark disallows queries whose only scan
    # column is the internal _corrupt_record (the quarantine branch),
    # (b) the two branches would otherwise parse the file twice
    parsed = IG.read_documents_csv(spark, tmp, keep_corrupt=True,
                                   sep=_CSV_SEP, header=False) \
        .localCheckpoint()
    sig = F.expr("bit_xor(_sig)")
    good = (parsed.where(F.col("_corrupt_record").isNull())
            .withColumn("_sig", md5_prefix_long(F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.col("text"))))
            .groupBy("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 sig.alias("xor_sig")))
    quar = (parsed.where(F.col("_corrupt_record").isNotNull())
            .withColumn("_sig", md5_prefix_long(F.col("_corrupt_record")))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("_corrupt_record")).alias("sum_chars"),
                 sig.alias("xor_sig"))
            .select(F.lit("__quarantine__").alias("source"),
                    F.lit("__quarantine__").alias("lang"),
                    "n_docs", "sum_chars", "xor_sig"))
    return good.unionByName(quar)


CSV_QUARANTINE_SQL = """
WITH good AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         bit_xor(CAST(('0x' || substr(md5(
             CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT))
           AS xor_sig
  FROM documents WHERE doc_id % 13 <> 0
  GROUP BY source, lang
),
raw AS (
  SELECT 'X' || CAST(doc_id AS VARCHAR) || chr(31) || text || chr(31)
         || lang || chr(31) || source || chr(31)
         || CAST(n_chars AS VARCHAR) AS line
  FROM documents WHERE doc_id % 13 = 0
),
quar AS (
  SELECT '__quarantine__' AS source, '__quarantine__' AS lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(line)) AS BIGINT) AS sum_chars,
         bit_xor(CAST(('0x' || substr(md5(line), 1, 15)) AS BIGINT))
           AS xor_sig
  FROM raw
)
SELECT * FROM good UNION ALL SELECT * FROM quar
"""


_COMPACT_TARGET = 256


def ingest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction sink (sources/ingest.py:write_compacted)
    driven end-to-end: bin-pack documents to ~256 rows/file, read the
    result back with input_file_name(), and pin (a) exact row count and
    content XOR (nothing lost or duplicated), (b) the per-file cap
    (every file ≤ target — maxRecordsPerFile's contract), (c) the file
    count landing in [ceil(n/target), 2*ceil(n/target)]: the lower
    bound is a mathematical certainty (n rows at ≤ target rows/file),
    the upper holds because round-robin repartition into
    ceil(n/target) partitions leaves every partition ≤ ~2·target rows
    even under rounding imbalance — unlike the earlier fixed "+2"
    slack, the bound is partitioning-independent (no flake if CPU
    count or AQE reshapes the write; ADVICE r05)."""
    from error_analysis_spark.extensions.text import doc_row_hash
    from error_analysis_spark.sources import ingest as IG
    docs = load_table(spark, sf_dir, "documents")
    tmp = _ingest_tmp(spark, "compact", sf_dir)
    IG.write_compacted(docs, tmp, target_rows_per_file=_COMPACT_TARGET)
    back = (spark.read.parquet(tmp)
            .select(doc_row_hash().alias("_h"),
                    F.input_file_name().alias("_f")))
    per_file = back.groupBy("_f").agg(F.count("*").alias("_n"))
    files = per_file.agg(
        F.count("*").alias("_nf"),
        F.max("_n").alias("_mx"))
    rows = back.agg(F.count("*").alias("n_rows"),
                    F.expr("bit_xor(_h)").alias("xor_hash"))
    t = F.lit(_COMPACT_TARGET).cast("long")
    ceil_files = F.ceil(F.col("n_rows") / t.cast("double")).cast("long")
    return (rows.crossJoin(F.broadcast(files))
            .select("n_rows", "xor_hash",
                    (F.col("_mx") <= t).cast("long").alias("within_cap"),
                    ((F.col("_nf") >= ceil_files)
                     & (F.col("_nf") <= 2 * ceil_files)).cast("long")
                    .alias("files_bounded")))


COMPACTION_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(('0x' || substr(md5(
           CAST(doc_id AS VARCHAR) || chr(31) ||
           md5(COALESCE(text, ''))), 1, 15)) AS BIGINT)) AS xor_hash,
       CAST(1 AS BIGINT) AS within_cap,
       CAST(1 AS BIGINT) AS files_bounded
FROM documents
"""


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (curation.py:maintain_aggregate):
# fold a synthetic insert/delete delta into the per-source (count, sum)
# aggregate without rescanning the base corpus. The oracle is the FULL
# RECOMPUTE over (base − deletes + inserts) — equality is exactly the
# self-maintenance theorem the operator implements.
# --------------------------------------------------------------------------

def curation_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from error_analysis_spark.extensions.curation import maintain_aggregate
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 10 != 0)  # corpus v1
    base_agg = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"))
    inserts = (docs.where(F.col("doc_id") % 10 == 0)
               .select("source", "n_chars", F.lit("insert").alias("_op")))
    deletes = (base.where(F.col("doc_id") % 7 == 0)
               .select("source", "n_chars", F.lit("delete").alias("_op")))
    return maintain_aggregate(base_agg, inserts.unionByName(deletes))


DELTA_AGG_SQL = """
WITH v2 AS (
  SELECT source, n_chars FROM documents
  WHERE doc_id % 10 = 0
     OR (doc_id % 10 <> 0 AND doc_id % 7 <> 0)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM v2 GROUP BY source HAVING count(*) > 0
"""


# --------------------------------------------------------------------------
# r05 wave 6: BPE merge-candidate counting (the tokenizer-training
# kernel), per-domain vocabulary heavy hitters, and hard-triplet mining
# for contrastive training.
# --------------------------------------------------------------------------

def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, both halves (round 8 upgrade, VERDICT
    r07 #6): part='cand' is the ranked top-50 first-merge candidate
    table (text.py:bpe_merge_pairs — the round-5 query, now with an
    explicit rank), part='rule' is the output of the FULL iterative
    trainer (text.py:bpe_train — 8 rounds of the Sennrich 2016 merge
    loop over the vocabulary-bounded distinct-word table). Step 1 of
    the rules equals the candidates' argmax by construction — the
    oracle restates the whole loop as an unrolled CTE chain."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.desc("pair_count"), F.asc("left_sym"),
                       F.asc("right_sym"))
    cand = (TX.bpe_merge_pairs(docs, top_k=50)
            .select(F.lit("cand").alias("part"),
                    F.row_number().over(w).alias("ord"),
                    "left_sym", "right_sym", "pair_count"))
    rules = (TX.bpe_train(docs, n_merges=8)
             .select(F.lit("rule").alias("part"),
                     F.col("step").alias("ord"),
                     "left_sym", "right_sym", "pair_count"))
    return cand.unionByName(rules)


def _bpe_core_ctes(n_merges: int = 8) -> list[str]:
    """The shared unrolled-CTE trainer scaffold (words → w0 → p/m/w per
    round) used by both the trainer oracle (`_bpe_train_sql`) and the
    encoder oracle (`_bpe_encode_sql`): each merge round is three CTEs
    — p{t} (adjacent-pair counts over the current word encodings),
    m{t} (the 1-row argmax with the deterministic tie order), w{t}
    (the greedy merge applied via sentinel-string replace, cross-joined
    with the 1-row m{t}). The sentinel representation makes plain
    `replace` exactly the reference's left-to-right non-overlapping
    scan on BOTH engines. An empty p{t} (nothing left to merge) makes
    m{t} and every later CTE empty, mirroring the Spark loop's early
    break."""
    s, e = chr(1), chr(2)
    parts = [f"""
words AS (
  SELECT t.w, CAST(count(*) AS BIGINT) AS n
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                          x -> x <> '')) AS t(w)
  WHERE NOT contains(t.w, '{s}') AND NOT contains(t.w, '{e}')
  GROUP BY t.w
),
w0 AS (
  SELECT regexp_replace(w, '(.)', '{s}\\1{e}', 'g') AS s, n FROM words
)"""]
    for t in range(1, n_merges + 1):
        parts.append(f"""
p{t} AS (
  SELECT syms[u.i] AS l, syms[u.i + 1] AS r,
         CAST(sum(n) AS BIGINT) AS cnt
  FROM (SELECT n,
               string_split(substr(s, 2, length(s) - 2), '{e}{s}') AS syms
        FROM w{t - 1}) enc,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
m{t} AS (
  SELECT {t} AS step, l, r, cnt FROM p{t}
  ORDER BY cnt DESC, l, r LIMIT 1
),
w{t} AS (
  SELECT replace(s, '{s}' || l || '{e}{s}' || r || '{e}',
                 '{s}' || l || r || '{e}') AS s, n
  FROM w{t - 1}, m{t}
)""")
    return parts


def _bpe_train_sql(n_merges: int = 8) -> str:
    """Trainer oracle: the shared scaffold plus candidate ranking and
    the per-round rule rows (see `_bpe_core_ctes`)."""
    parts = _bpe_core_ctes(n_merges)
    rules = "\nUNION ALL\n".join(
        f"SELECT 'rule' AS part, step AS ord, l AS left_sym, "
        f"r AS right_sym, cnt AS pair_count FROM m{t}"
        for t in range(1, n_merges + 1))
    return f"""
WITH {','.join(parts)},
cpairs AS (
  SELECT substring(w, CAST(u.i AS INT), 1) AS left_sym,
         substring(w, CAST(u.i AS INT) + 1, 1) AS right_sym, n
  FROM (SELECT t.w, CAST(count(*) AS BIGINT) AS n
        FROM documents,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS t(w)
        GROUP BY t.w) cw,
       unnest(range(1, length(w))) AS u(i)
),
cand AS (
  SELECT left_sym, right_sym, CAST(sum(n) AS BIGINT) AS pair_count
  FROM cpairs GROUP BY left_sym, right_sym
),
candr AS (
  SELECT 'cand' AS part,
         CAST(row_number() OVER (ORDER BY pair_count DESC, left_sym,
                                 right_sym) AS INTEGER) AS ord,
         left_sym, right_sym, pair_count
  FROM cand
)
SELECT part, ord, left_sym, right_sym, pair_count
FROM candr WHERE ord <= 50
UNION ALL
{rules}
"""


BPE_MERGES_SQL = _bpe_train_sql(8)


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode half of the BPE tokenizer (round 8): train the 8
    merge rules (text.bpe_train — the driver green for training is
    text_bpe_merges), then apply them to every document row-locally
    and report the per-doc token budget (n_words, n_chars, post-merge
    n_tokens, chars-per-token). The oracle restates BOTH halves: the
    trainer's unrolled CTE chain feeds a per-doc replace chain through
    LEFT JOINs (empty rule rows pass the text through unchanged,
    mirroring the Spark loop's early break)."""
    docs = load_table(spark, sf_dir, "documents")
    rules = [(r["left_sym"], r["right_sym"])
             for r in TX.bpe_train(docs, n_merges=8).collect()]
    return TX.bpe_encode_stats(docs, rules)


def _bpe_encode_sql(n_merges: int = 8) -> str:
    s, e = chr(1), chr(2)
    parts = _bpe_core_ctes(n_merges)
    parts.append(f"""
d0 AS (
  SELECT d.doc_id, t.w,
         regexp_replace(t.w, '(.)', '{s}\\1{e}', 'g') AS s
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(d.text, '\\s+'),
                          x -> x <> '')) AS t(w)
  WHERE NOT contains(t.w, '{s}') AND NOT contains(t.w, '{e}')
)""")
    for t in range(1, n_merges + 1):
        parts.append(f"""
d{t} AS (
  SELECT d.doc_id, d.w,
         CASE WHEN m.l IS NULL THEN d.s
              ELSE replace(d.s, '{s}' || m.l || '{e}{s}' || m.r || '{e}',
                           '{s}' || m.l || m.r || '{e}') END AS s
  FROM d{t - 1} d LEFT JOIN m{t} m ON TRUE
)""")
    return f"""
WITH {','.join(parts)}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(w)) AS BIGINT) AS n_chars,
       CAST(sum(len(string_split(s, '{e}')) - 1) AS BIGINT) AS n_tokens,
       round(CAST(sum(length(w)) AS DOUBLE)
             / (CAST(sum(len(string_split(s, '{e}')) - 1) AS DOUBLE)),
             4) + 0.0 AS chars_per_token
FROM d{n_merges}
GROUP BY doc_id
"""


BPE_ENCODE_SQL = _bpe_encode_sql(8)


def text_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per domain (text.py:domain_topk_tokens): rank
    window over the domain-bounded vocabulary aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.domain_topk_tokens(docs, k=5)


DOMAIN_TOPK_SQL = r"""
WITH tf AS (
  SELECT source AS domain, t.token, CAST(count(*) AS BIGINT) AS tf
  FROM documents,
       unnest(list_filter(regexp_split_to_array(text, '\s+'),
                          x -> x <> '')) AS t(token)
  GROUP BY domain, t.token
)
SELECT domain, CAST(rk AS INT) AS rk, token, tf FROM (
  SELECT *, row_number() OVER (PARTITION BY domain
                               ORDER BY tf DESC, token) AS rk
  FROM tf) x
WHERE rk <= 5
"""


# --------------------------------------------------------------------------
# C4-style corpus-level line dedup (text.py:corpus_line_dedup,
# Raffel et al. 2020 §2.2): lines occurring 3+ times corpus-wide are
# struck from every document; text rebuilt in original line order.
# The oracle restates the explode → corpus count → join-back → ordered
# string_agg pipeline; rebuilt text is md5-compressed for the hash.
# --------------------------------------------------------------------------

def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = TX.corpus_line_dedup(docs, kill_freq=3)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_lines_kept", "n_lines_removed",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"))


LINE_DEDUP_SQL = """
WITH parts AS (
  SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents
),
pos AS (
  SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS i
  FROM parts
),
lines AS (
  SELECT doc_id, i AS pos, trim(parts[i]) AS line
  FROM pos WHERE trim(parts[i]) <> ''
),
freq AS (SELECT line, count(*) AS c FROM lines GROUP BY line),
rebuilt AS (
  SELECT l.doc_id,
         count(CASE WHEN f.c < 3 THEN 1 END) AS n_kept,
         count(CASE WHEN f.c >= 3 THEN 1 END) AS n_removed,
         md5(coalesce(string_agg(CASE WHEN f.c < 3 THEN l.line END,
                                 chr(10) ORDER BY l.pos), ''))
           AS text_md5
  FROM lines l JOIN freq f USING (line)
  GROUP BY l.doc_id
)
-- id-domain contract (round 7): docs with no countable line never
-- reach `lines`; the left join back onto documents keeps them in
-- the output with empty text and zero counts (text.py lockstep)
SELECT d.doc_id,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_kept,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_lines_removed,
       coalesce(r.text_md5, md5('')) AS text_md5
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def emb_hard_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard positive/negative mining per anchor
    (similarity.py:hard_triplets): exact-integer fixed-point cosines,
    broadcast anchors, map-side-combinable argmin/argmax."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.hard_triplets(emb, anchor_mod=25)


HARD_TRIPLETS_SQL = """
WITH q AS (
  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
         list_transform(embedding,
                        x -> floor(CAST(x AS DOUBLE) * 1e6 + 0.5)) AS q
  FROM embeddings
),
sd AS (SELECT id, label, q, list_inner_product(q, q) AS nn FROM q),
a AS (
  SELECT id AS anchor_id, label AS anchor_label, q AS aq, nn AS ann
  FROM sd WHERE id % 25 = 0
),
s AS (
  SELECT a.anchor_id, a.anchor_label, v.id, v.label,
         CASE WHEN v.nn > 0 AND a.ann > 0
              THEN list_inner_product(v.q, a.aq)
                   / (sqrt(v.nn) * sqrt(a.ann))
              ELSE 0.0 END AS c
  FROM sd v CROSS JOIN a WHERE v.id <> a.anchor_id
),
p AS (
  SELECT anchor_id, id, c,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY c ASC, id ASC) AS rk
  FROM s WHERE label = anchor_label
),
n AS (
  SELECT anchor_id, id, c,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY c DESC, id ASC) AS rk
  FROM s WHERE label <> anchor_label
)
SELECT a2.anchor_id, a2.anchor_label AS label,
       p.id AS pos_id, round(p.c, 6) AS pos_cos,
       n.id AS neg_id, round(n.c, 6) AS neg_cos
FROM (SELECT DISTINCT anchor_id, anchor_label FROM s) a2
LEFT JOIN p ON p.anchor_id = a2.anchor_id AND p.rk = 1
LEFT JOIN n ON n.anchor_id = a2.anchor_id AND n.rk = 1
"""


# --------------------------------------------------------------------------
# Product-quantization ANN: deterministic codebook + ADC top-k
# --------------------------------------------------------------------------

# fixed-point query vector shared by both engines: x_j = ((j*37)%200-100)/250
# → qfp_j = (((j*37)%200)-100)*4000 exactly (1e6 scale, no float rounding)
_PQ_DIM = 64
_PQ_QFP = [(((j * 37) % 200) - 100) * 4000 for j in range(_PQ_DIM)]
_PQ_Q = [v / 1e6 for v in _PQ_QFP]


def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN over the embeddings table: train the
    8-block × 16-code codebook (md5-seeded, one exact-arithmetic Lloyd
    step), PQ-encode every vector, rank by ADC against the fixed query
    vector. Labeled union: 'topk' (rank, id, exact_dist, adc) +
    'hist' (block, code, n_assigned, distortion) — the histogram makes
    every row's code assignment hash-visible. Training is the bounded
    (block, code, pos) aggregate; encode+ADC are ONE map-only Arrow
    kernel (codebook + ADC table in the closure — the documented
    vectorized-kernel exception, similarity._pq_encode). Jégou et al.
    2011; no reference counterpart (training-data-pipeline
    extension)."""
    emb = load_table(spark, sf_dir, "embeddings")
    book = SIM.pq_train(emb)
    return SIM.pq_topk(emb, _PQ_Q, book, k=10)


PQ_TOPK_SQL = f"""
WITH base AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
           AS q
  FROM embeddings
),
seeds AS (
  SELECT q AS sq,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT,
                    id) AS code
  FROM base
  QUALIFY code <= 16
),
grid AS (SELECT unnest(generate_series(1, 8)) AS b),
blocks AS (
  SELECT base.id, grid.b,
         list_slice(base.q, (grid.b - 1) * 8 + 1, grid.b * 8) AS sub
  FROM base CROSS JOIN grid
),
scb AS (
  SELECT grid.b, seeds.code,
         list_slice(seeds.sq, (grid.b - 1) * 8 + 1, grid.b * 8) AS cvec
  FROM seeds CROSS JOIN grid
),
assign AS (
  SELECT bl.id, bl.b,
         min(CAST(list_sum(list_transform(list_zip(bl.sub, s.cvec),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) * 32
             + (s.code - 1)) AS k
  FROM blocks bl JOIN scb s ON s.b = bl.b
  GROUP BY bl.id, bl.b
),
members AS (
  SELECT a.b, (a.k % 32) + 1 AS code,
         unnest(bl.sub) AS val,
         unnest(generate_series(1, 8)) AS pos
  FROM assign a JOIN blocks bl ON bl.id = a.id AND bl.b = a.b
),
cent AS (
  SELECT b, code, pos,
         CAST(floor(CAST(sum(val) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
           AS cv
  FROM members GROUP BY b, code, pos
),
centarr AS (
  SELECT b, code, list(cv ORDER BY pos) AS cvec FROM cent GROUP BY b, code
),
codebook AS (
  SELECT s.b, s.code, COALESCE(c.cvec, s.cvec) AS cvec
  FROM scb s LEFT JOIN centarr c ON c.b = s.b AND c.code = s.code
),
enc AS (
  SELECT bl.id, bl.b,
         min(CAST(list_sum(list_transform(list_zip(bl.sub, cb.cvec),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) * 32
             + (cb.code - 1)) AS k
  FROM blocks bl JOIN codebook cb ON cb.b = bl.b
  GROUP BY bl.id, bl.b
),
qv AS (SELECT {_PQ_QFP} AS qf),
qd AS (
  SELECT cb.b, cb.code,
         CAST(list_sum(list_transform(
           list_zip(cb.cvec, list_slice(qv.qf, (cb.b - 1) * 8 + 1,
                                        cb.b * 8)),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS qdist
  FROM codebook cb CROSS JOIN qv
),
adc AS (
  SELECT e.id, CAST(sum(q.qdist) AS BIGINT) AS adc
  FROM enc e JOIN qd q ON q.b = e.b AND q.code = (e.k % 32) + 1
  GROUP BY e.id
),
exact AS (
  SELECT base.id,
         CAST(list_sum(list_transform(list_zip(base.q, qv.qf),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS ex
  FROM base CROSS JOIN qv
),
topk AS (
  SELECT 'topk' AS part,
         CAST(row_number() OVER (ORDER BY a.adc, a.id) AS BIGINT) AS i,
         a.id AS j, e.ex AS m, CAST(a.adc AS DOUBLE) AS v
  FROM adc a JOIN exact e ON e.id = a.id
  ORDER BY a.adc, a.id LIMIT 10
),
hist AS (
  SELECT 'hist' AS part, CAST(b AS BIGINT) AS i,
         CAST((k % 32) + 1 AS BIGINT) AS j,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(k // 32) AS DOUBLE) AS v
  FROM enc GROUP BY b, (k % 32) + 1
)
SELECT * FROM topk UNION ALL SELECT * FROM hist
"""


EXT_QUERIES: dict[str, tuple] = {
    "emb_pq_topk": (emb_pq_topk, PQ_TOPK_SQL),
    "text_bpe_encode": (text_bpe_encode, BPE_ENCODE_SQL),
    "ingest_csv_quarantine": (ingest_csv_quarantine, CSV_QUARANTINE_SQL),
    "ingest_compaction": (ingest_compaction, COMPACTION_SQL),
    "curation_delta_agg": (curation_delta_agg, DELTA_AGG_SQL),
    "text_bpe_merges": (text_bpe_merges, BPE_MERGES_SQL),
    "text_domain_topk": (text_domain_topk, DOMAIN_TOPK_SQL),
    "text_line_dedup": (text_line_dedup, LINE_DEDUP_SQL),
    "emb_hard_triplets": (emb_hard_triplets, HARD_TRIPLETS_SQL),
    "curation_drift_psi": (curation_drift_psi, DRIFT_PSI_SQL),
    "sketch_hll_distinct": (sketch_hll_distinct, _hll_oracle()),
    "curation_argmax_doc": (curation_argmax_doc, ARGMAX_DOC_SQL),
    "olap_cube_counts": (olap_cube_counts, CUBE_SQL),
    "emb_centroid_eval": (emb_centroid_eval, CENTROID_EVAL_SQL),
    "text_pmi_pairs": (text_pmi_pairs, PMI_SQL),
    "curation_pareto": (curation_pareto, PARETO_SQL),
    "curation_checksum": (curation_checksum, CHECKSUM_SQL),
    "curation_merge_upsert": (curation_merge_upsert, MERGE_SQL),
    "sim_lsh_topk": (sim_lsh_topk, LSH_TOPK_SQL),
    "sketch_kmv_distinct": (sketch_kmv_distinct, KMV_SQL),
    "text_vocab_topk": (text_vocab_topk, VOCAB_SQL),
    "emb_quantize_stats": (emb_quantize_stats, QUANTIZE_SQL),
    "curation_sample_mix": (curation_sample_mix, SAMPLE_MIX_SQL),
    "curation_train_order": (curation_train_order, TRAIN_ORDER_SQL),
    "curation_pack_chunks": (curation_pack_chunks, PACK_CHUNKS_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_jaccard": (dedup_jaccard, DEDUP_JACCARD_SQL),
    "dedup_minhash_sigs": (dedup_minhash_sigs, MINHASH_SQL),
    "text_fingerprint": (text_fingerprint, FINGERPRINT_SQL),
    "text_token_stats": (text_token_stats, TOKEN_STATS_SQL),
    "text_lang_id": (text_lang_id, LANG_ID_SQL),
    "sim_cosine_topk": (sim_cosine_topk, SIM_TOPK_SQL),
    "dedup_simhash": (dedup_simhash, SIMHASH_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, SIMHASH_PAIRS_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, MINHASH_LSH_SQL),
    "text_quality": (text_quality, QUALITY_SQL),
    "text_gopher_flags": (text_gopher_flags, GOPHER_FLAGS_SQL),
    "text_c4_clean": (text_c4_clean, C4_CLEAN_SQL),
    "sim_pairwise_topk": (sim_pairwise_topk, PAIRWISE_KNN_SQL),
    "dedup_embedding": (dedup_embedding, EMB_DEDUP_SQL),
    "mm_payload_stats": (mm_payload_stats, MM_STATS_SQL),
    "mm_features": (mm_features, MM_FEATURES_SQL),
    "mm_phash": (mm_phash, MM_PHASH_SQL),
    "mm_afp": (mm_afp, MM_AFP_SQL),
    "dedup_components": (dedup_components, COMPONENTS_SQL),
    "text_token_count_bpe": (text_token_count_bpe, BPE_COUNT_SQL),
    "text_repetition": (text_repetition, REPETITION_SQL),
    "text_bm25_topk": (text_bm25_topk, BM25_SQL),
    "text_pii_scrub": (text_pii_scrub, PII_SQL),
    "text_contamination": (text_contamination, CONTAM_SQL),
    "curation_funnel": (curation_funnel, CURATION_SQL),
    "text_dup_ngrams": (text_dup_ngrams, DUP_NGRAMS_SQL),
    "text_chunk_windows": (text_chunk_windows, CHUNK_WINDOWS_SQL),
    "curation_domain_weights": (curation_domain_weights, DOMAIN_WEIGHTS_SQL),
    "curation_quality_prune": (curation_quality_prune, QUALITY_PRUNE_SQL),
    "dedup_incremental": (dedup_incremental, INCREMENTAL_SQL),
    "curation_weighted_sample": (curation_weighted_sample,
                                 WEIGHTED_SAMPLE_SQL),
    "emb_label_centroids": (emb_label_centroids, LABEL_CENTROIDS_SQL),
    "sim_semantic_dedup": (sim_semantic_dedup, SEMANTIC_DEDUP_SQL),
    "text_perplexity": (text_perplexity, PERPLEXITY_SQL),
    "text_normalize": (text_normalize, NORMALIZE_SQL),
    "text_oov_rate": (text_oov_rate, OOV_SQL),
    "text_contam_bloom": (text_contam_bloom, CONTAM_BLOOM_SQL),
    "curation_domain_cap": (curation_domain_cap, DOMAIN_CAP_SQL),
    "sketch_grouped_quantiles": (sketch_grouped_quantiles,
                                 GROUPED_QTILE_SQL),
    "curation_split": (curation_split, SPLIT_SQL),
    "curation_length_buckets": (curation_length_buckets,
                                LENGTH_BUCKETS_SQL),
    "sketch_cms_err": (sketch_cms_err, CMS_SQL),
    "emb_random_projection": (emb_random_projection,
                              RANDOM_PROJECTION_SQL),
    "curation_snapshot_diff": (curation_snapshot_diff, SNAPSHOT_DIFF_SQL),
    "w6_outlier_mad": (w6_outlier_mad, OUTLIER_MAD_SQL),
    "text_tfidf_topk": (text_tfidf_topk, TFIDF_SQL),
    "dedup_containment": (dedup_containment, CONTAINMENT_SQL),
    "text_bigram_ppl": (text_bigram_ppl, BIGRAM_PPL_SQL),
    "emb_covariance": (emb_covariance, EMB_COV_SQL),
    "curation_data_card": (curation_data_card, DATA_CARD_SQL),
}
