"""Gate queries for the training-data-pipeline suite (dedup / text
analysis / similarity search) over the ``documents`` and ``embeddings``
tables, with DuckDB oracles.

The Spark side runs the real operators (operators/dedup.py,
operators/similarity.py, functions/text.py); the oracles are independent
DuckDB list/lambda formulations of the same deterministic semantics
(md5-based hashing, order-insensitive set ops, single-division doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linear_kdtree_spark.entry import AUG_PAGES_SQL, load_views
from linear_kdtree_spark.functions.text import (
    BPE_RE,
    EMAIL_RE,
    LANG_MARKERS,
    FP_MOD,
    PHONE_RE,
    bpe_ish_token_count,
    count_pattern,
    fingerprint_expr,
    host_of,
    lang_id,
    scrub_pii,
    token_count,
)

# documents augmented with exact duplicates (every 5th doc) so the dedup
# operators have real work; derivable identically in both engines
DUP_DOCS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
""".strip()

MINHASH_PERMS = 8
MINHASH_BANDS = 4
SIMHASH_BITS = 16
NGRAM_N = 3
ANN_K = 3
ANN_QUERIES = 20
IVF_CELLS = 8
IVF_PROBE = 2

TOKENS_DUCK = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
# shingles run over RAW text tokens (engine shingles() does not lowercase)
RAW_TOKENS_DUCK = "list_filter(string_split_regex(text, '\\s+'), t -> t != '')"
SHINGLES_DUCK = f"""
list_distinct(list_transform(
  generate_series(1, greatest(len({RAW_TOKENS_DUCK}) - {NGRAM_N - 1}, 0)),
  i -> {RAW_TOKENS_DUCK}[i] || ' ' || {RAW_TOKENS_DUCK}[i+1] || ' ' || {RAW_TOKENS_DUCK}[i+2]))
""".strip()


def _dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("documents",))
    return spark.sql(DUP_DOCS_SQL)


# --------------------------------------------------------------- text stats

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        bpe_ish_token_count(t).cast("long").alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars"),
        F.length(F.regexp_replace(t, r"[A-Za-z0-9 ]", "")).cast("long").alias(
            "n_punct"
        ),
    )


def text_stats_oracle_sql() -> str:
    return f"""
SELECT doc_id,
  CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_RE}', 0)) AS BIGINT) AS n_bpe_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
FROM documents
""".strip()


# ------------------------------------------------------------ quality score

def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linear_kdtree_spark.functions.text import (
        punct_ratio,
        quality_score,
        stopword_ratio,
    )

    load_views(spark, sf_dir, ("documents",))
    t = F.col("text")
    return spark.table("documents").select(
        "doc_id",
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
    )


def quality_oracle_sql() -> str:
    markers = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    marker_list = ", ".join(f"'{w}'" for w in markers)
    ntok = f"len({TOKENS_DUCK})"
    hits = f"len(list_filter({TOKENS_DUCK}, t -> t IN ({marker_list})))"
    pr = (
        "CASE WHEN length(text) > 0 THEN "
        "CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)"
        " / length(text) ELSE 0.0 END"
    )
    sr = f"CASE WHEN {ntok} > 0 THEN CAST({hits} AS DOUBLE) / {ntok} ELSE 0.0 END"
    q = (
        f"(CASE WHEN {ntok} >= 5 AND {ntok} <= 100000 THEN 1.0 ELSE 0.0 END"
        f" + CASE WHEN {pr} < 0.3 THEN 1.0 ELSE 0.0 END"
        f" + CASE WHEN {sr} > 0.0 THEN 1.0 ELSE 0.0 END) / 3.0"
    )
    return f"""
SELECT doc_id, {pr} AS punct_ratio, {sr} AS stopword_ratio, {q} AS quality
FROM documents
""".strip()


# ------------------------------------------------------------------ lang id

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    return docs.select(
        "doc_id", lang_id(F.col("text")).alias("lang_guess"), "lang"
    )


def lang_id_oracle_sql() -> str:
    scores = []
    for lang in sorted(LANG_MARKERS):
        words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        scores.append(
            f"len(list_filter({TOKENS_DUCK}, t -> t IN ({words}))) AS s_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    m = "GREATEST(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + m + " = 0 THEN 'und' "
    for lg in langs:
        case += f"WHEN s_{lg} = {m} THEN '{lg}' "
    case += "END"
    return f"""
WITH scored AS (SELECT doc_id, lang, {", ".join(scores)} FROM documents)
SELECT doc_id, {case} AS lang_guess, lang FROM scored
""".strip()


# -------------------------------------------------------------- fingerprint

def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    return docs.select(
        "doc_id", fingerprint_expr(F.col("text")).alias("fingerprint")
    )


def fingerprint_oracle_sql() -> str:
    # CAST AS BIGINT is load-bearing: DuckDB list_sum yields HUGEINT, which
    # pandas materializes as float64 and the driver's value-hash then sees
    # 1.23e8 vs the engine's int64 123000000 (round-1 hash-fail root cause)
    return f"""
SELECT doc_id,
  CAST(COALESCE(list_sum(list_transform(
    generate_series(1, greatest(length(text), 1)),
    i -> (ascii(substr(text, CAST(i AS INTEGER), 1)) * ((i * 2654435761) % {FP_MOD})) % {FP_MOD}
  )), 0) % {FP_MOD} AS BIGINT) AS fingerprint
FROM documents
""".strip()


# -------------------------------------------------------------- exact dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linear_kdtree_spark.operators.dedup import exact_dedup

    return exact_dedup(_dup_docs(spark, sf_dir)).select(
        "doc_id", "content_hash",
        F.col("group_size").cast("long").alias("group_size"),
        "canonical_id", "is_duplicate",
    )


def dedup_exact_oracle_sql() -> str:
    return f"""
WITH d AS ({DUP_DOCS_SQL})
SELECT doc_id, md5(text) AS content_hash,
  CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_size,
  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
  doc_id != MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM d
""".strip()


# ------------------------------------------------------------ ngram profile

def q_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linear_kdtree_spark.operators.dedup import ngram_profile

    load_views(spark, sf_dir, ("documents",))
    return ngram_profile(spark.table("documents"), NGRAM_N).select(
        "doc_id", F.col("n_shingles").cast("long").alias("n_shingles")
    )


def ngram_profile_oracle_sql() -> str:
    return f"""
SELECT doc_id, CAST(len({SHINGLES_DUCK}) AS BIGINT) AS n_shingles
FROM documents
""".strip()


# -------------------------------------------------- consecutive-pair jaccard

def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard of each (doc_id, doc_id+1) pair — exercises the
    shingle/intersect/union machinery with a deterministic pairing."""
    from linear_kdtree_spark.operators.dedup import jaccard_pairs

    load_views(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    pairs = docs.select(F.col("doc_id").alias("a_id")).join(
        docs.select(F.col("doc_id").alias("b_id")),
        F.col("b_id") == F.col("a_id") + 1,
    )
    return jaccard_pairs(docs, pairs, NGRAM_N)


def jaccard_pairs_oracle_sql() -> str:
    return f"""
WITH sh AS (SELECT doc_id, {SHINGLES_DUCK} AS s FROM documents)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
  CASE WHEN len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x))) > 0
       THEN CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x))))
       ELSE 1.0 END AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
""".strip()


# -------------------------------------------------------------- minhash LSH

def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linear_kdtree_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(
        _dup_docs(spark, sf_dir), num_perm=MINHASH_PERMS, bands=MINHASH_BANDS,
        n=NGRAM_N,
    )


def minhash_lsh_oracle_sql() -> str:
    rows = MINHASH_PERMS // MINHASH_BANDS
    sig_cols = ", ".join(
        f"list_min(list_transform({SHINGLES_DUCK}, s -> md5(s || ':{j}'))) AS sig{j}"
        for j in range(MINHASH_PERMS)
    )
    band_selects = []
    for b in range(MINHASH_BANDS):
        parts = " || '|' || ".join(
            f"COALESCE(sig{b * rows + r}, '')" for r in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS bucket FROM sigs"
        )
    buckets = " UNION ALL ".join(band_selects)
    return f"""
WITH d AS ({DUP_DOCS_SQL}),
sigs AS (SELECT doc_id, {sig_cols} FROM d),
buckets AS ({buckets})
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
""".strip()


# ------------------------------------------------------------------ simhash

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linear_kdtree_spark.operators.dedup import simhash_profile

    load_views(spark, sf_dir, ("documents",))
    return simhash_profile(spark.table("documents"), SIMHASH_BITS)


def simhash_oracle_sql() -> str:
    toks = f"list_distinct({TOKENS_DUCK})"
    bit_terms = []
    for j in range(SIMHASH_BITS):
        cp = j // 4 + 1
        dv = 1 << (3 - (j % 4))
        hv = (
            f"(ascii(substr(md5(t), {cp}, 1)) - CASE WHEN ascii(substr(md5(t), {cp}, 1)) >= 97 "
            f"THEN 87 ELSE 48 END)"
        )
        vote = f"((CAST(FLOOR({hv} / {float(dv)!r}) AS BIGINT) % 2) * 2 - 1)"
        tally = f"COALESCE(list_sum(list_transform({toks}, t -> {vote})), 0)"
        bit_terms.append(f"CASE WHEN {tally} >= 0 THEN {1 << j} ELSE 0 END")
    return f"""
SELECT doc_id, CAST({" + ".join(bit_terms)} AS BIGINT) AS simhash
FROM documents
""".strip()


# ------------------------------------------------------- curation composite

def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: drop exact duplicates (keep canonical),
    require quality ≥ 2/3 and ≥ 5 tokens — the composed pipeline a
    training-data run would execute. → (doc_id, lang)."""
    from linear_kdtree_spark.functions.text import quality_score, token_count
    from linear_kdtree_spark.operators.dedup import exact_dedup

    docs = _dup_docs(spark, sf_dir)
    flags = exact_dedup(docs).select("doc_id", "is_duplicate")
    load_views(spark, sf_dir, ("documents",))
    full = docs.join(flags, "doc_id").join(
        spark.table("documents").select(F.col("doc_id").alias("orig_id"), "lang"),
        F.pmod(F.col("doc_id"), F.lit(1000000)) == F.col("orig_id"),
    )
    return (
        full.filter(~F.col("is_duplicate"))
        .filter(quality_score(F.col("text")) >= 0.66)
        .filter(token_count(F.col("text")) >= 5)
        .select("doc_id", "lang")
    )


def curation_oracle_sql() -> str:
    markers = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    marker_list = ", ".join(f"'{w}'" for w in markers)
    ntok = f"len({TOKENS_DUCK})"
    hits = f"len(list_filter({TOKENS_DUCK}, t -> t IN ({marker_list})))"
    pr = (
        "CASE WHEN length(text) > 0 THEN "
        "CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)"
        " / length(text) ELSE 0.0 END"
    )
    sr = f"CASE WHEN {ntok} > 0 THEN CAST({hits} AS DOUBLE) / {ntok} ELSE 0.0 END"
    q = (
        f"(CASE WHEN {ntok} >= 5 AND {ntok} <= 100000 THEN 1.0 ELSE 0.0 END"
        f" + CASE WHEN {pr} < 0.3 THEN 1.0 ELSE 0.0 END"
        f" + CASE WHEN {sr} > 0.0 THEN 1.0 ELSE 0.0 END) / 3.0"
    )
    return f"""
WITH d AS ({DUP_DOCS_SQL}),
flagged AS (
  SELECT doc_id, text,
         doc_id != MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
  FROM d),
kept AS (
  SELECT doc_id FROM flagged
  WHERE NOT is_duplicate AND {q} >= 0.66 AND {ntok} >= 5)
SELECT k.doc_id, o.lang
FROM kept k JOIN documents o ON k.doc_id % 1000000 = o.doc_id
""".strip()

# -------------------------------------------------------- domain stats / PII

# deterministic PII injection (every 4th doc gets an email + phone) so the
# scrub operators have real work; identical string assembly in both engines
PII_DOCS_SQL = """
SELECT doc_id, text || CASE WHEN doc_id % 4 = 0 THEN
    ' contact user' || CAST(doc_id AS STRING) || '@mail'
      || CAST(doc_id % 7 AS STRING) || '.example or call 555-'
      || lpad(CAST(doc_id % 1000 AS STRING), 3, '0') || '-'
      || lpad(CAST((doc_id * 13) % 10000 AS STRING), 4, '0')
  ELSE '' END AS text
FROM documents
""".strip()


def q_ngram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency trigram score per document (integer LM-style
    stereotypicality — see functions/text.corpus_ngram_score)."""
    from linear_kdtree_spark.functions.text import corpus_ngram_score

    load_views(spark, sf_dir, ("documents",))
    return corpus_ngram_score(spark.table("documents"))


def ngram_score_oracle_sql(n: int = 3) -> str:
    return f"""
WITH grams AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(1, greatest(length(text) - {n - 1}, 0)),
    i -> substr(text, CAST(i AS INTEGER), {n}))) AS gram
  FROM documents),
freq AS (SELECT gram, COUNT(*) AS c FROM grams GROUP BY gram),
sc AS (SELECT g.doc_id, SUM(f.c) AS s
       FROM grams g JOIN freq f USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id, CAST(COALESCE(s.s, 0) AS BIGINT) AS ngram_score
FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
""".strip()


SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1, "pt": 0.1}
DOMAIN_CAP = 12


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mixture down-sampling (seed-free hash
    draw — byte-identical corpus on every rerun) → kept (doc_id, lang)."""
    from linear_kdtree_spark.operators.curation import deterministic_sample

    load_views(spark, sf_dir, ("documents",))
    return deterministic_sample(
        spark.table("documents"), SAMPLE_RATES, default_rate=0.05
    ).select("doc_id", "lang")


def mixture_sample_oracle_sql() -> str:
    branches = " ".join(
        f"WHEN lang = '{k}' THEN {int(v * 1_000_000)}"
        for k, v in sorted(SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE ((doc_id % 2147483647) * 2654435761 + 12345) % 1000000
      < (CASE {branches} ELSE {int(0.05 * 1_000_000)} END)
""".strip()


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: keep the top-N docs per host ranked by token
    count (desc, doc-id tiebreak) → (host, doc_id, rank)."""
    from linear_kdtree_spark.operators.curation import cap_per_group
    from linear_kdtree_spark.functions.text import host_of, token_count

    load_views(spark, sf_dir, ("documents",))
    aug = spark.sql(AUG_PAGES_SQL)
    docs = aug.select(
        host_of(F.col("url")).alias("host"),
        F.regexp_extract("url", r"/(\d+)$", 1).cast("long").alias("doc_id"),
        token_count(F.col("text")).alias("n_tok"),
    )
    capped = cap_per_group(
        docs, "host", [F.desc("n_tok"), F.asc("doc_id")], DOMAIN_CAP
    )
    return capped.select(
        "host", "doc_id", F.col("rank").cast("int").alias("rank")
    )


def domain_cap_oracle_sql(n: int = DOMAIN_CAP) -> str:
    return f"""
WITH aug AS ({AUG_PAGES_SQL}),
d AS (SELECT regexp_extract(url, '^https?://(?:[^/?#@]*@)?([^/:?#]+)', 1) AS host,
        CAST(regexp_extract(url, '/(\\d+)$', 1) AS BIGINT) AS doc_id,
        len({TOKENS_DUCK}) AS n_tok
      FROM aug),
r AS (SELECT host, doc_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY host
             ORDER BY n_tok DESC, doc_id) AS INTEGER) AS rank
      FROM d)
SELECT host, doc_id, rank FROM r WHERE rank <= {n}
""".strip()


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level corpus stats (the per-host aggregation a crawl-curation
    run starts from): host → page count + total text chars."""
    load_views(spark, sf_dir, ("documents",))
    aug = spark.sql(AUG_PAGES_SQL)
    return (
        aug.select(host_of(F.col("url")).alias("host"), "text")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("text")).alias("sum_chars"),
        )
    )


def domain_stats_oracle_sql() -> str:
    return f"""
WITH aug AS ({AUG_PAGES_SQL})
SELECT regexp_extract(url, '^https?://(?:[^/?#@]*@)?([^/:?#]+)', 1) AS host,
  CAST(COUNT(*) AS BIGINT) AS n_pages,
  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
FROM aug GROUP BY 1
""".strip()


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the injected-PII corpus →
    (doc_id, n_emails, n_phones, scrubbed_len)."""
    load_views(spark, sf_dir, ("documents",))
    docs = spark.sql(PII_DOCS_SQL)
    t = F.col("text")
    return docs.select(
        "doc_id",
        count_pattern(t, EMAIL_RE).cast("long").alias("n_emails"),
        count_pattern(t, PHONE_RE).cast("long").alias("n_phones"),
        F.length(scrub_pii(t)).cast("long").alias("scrubbed_len"),
    )


def pii_scrub_oracle_sql() -> str:
    return f"""
WITH d AS ({PII_DOCS_SQL})
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{EMAIL_RE}', 0)) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{PHONE_RE}', 0)) AS BIGINT) AS n_phones,
  CAST(length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
       '{PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len
FROM d
""".strip()


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir, ("embeddings",))
    return spark.table("embeddings")


def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linear_kdtree_spark.operators.similarity import brute_topk_cosine

    vecs = _vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return brute_topk_cosine(vecs, queries, ANN_K)


def ann_brute_oracle_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < {ANN_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id,
         list_cosine_similarity(v.embedding, q.qe) AS cos
  FROM q CROSS JOIN embeddings v WHERE v.vec_id != q.query_id),
r AS (SELECT query_id, vec_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id)
             AS INTEGER) AS rank
      FROM scored)
SELECT query_id, vec_id, rank FROM r WHERE rank <= {ANN_K}
""".strip()


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linear_kdtree_spark.operators.similarity import ivf_topk_cosine

    vecs = _vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return ivf_topk_cosine(
        vecs, queries, ANN_K, n_cells=IVF_CELLS, n_probe=IVF_PROBE
    )


def ann_ivf_oracle_sql(n_total: int | None = None) -> str:
    # stride must equal the engine's vectors.count() // n_cells; expressed
    # as a scalar subquery so the oracle adapts to the sf dir. FLOOR before
    # CAST: DuckDB '/' on integers yields DOUBLE and a bare CAST rounds
    # half-to-even, while the engine floors (count // n_cells)
    stride = (
        f"(SELECT GREATEST(CAST(FLOOR(COUNT(*) / {float(IVF_CELLS)!r}) AS BIGINT), 1)"
        " FROM embeddings)"
    )
    return f"""
WITH cents AS (
  SELECT CAST(vec_id / {stride} AS BIGINT) AS cell, embedding AS ce
  FROM embeddings WHERE vec_id % {stride} = 0
    AND CAST(vec_id / {stride} AS BIGINT) < {IVF_CELLS}),
assign0 AS (
  SELECT v.vec_id, c.cell,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id
            ORDER BY list_cosine_similarity(v.embedding, c.ce) DESC, c.cell) AS rn
  FROM embeddings v CROSS JOIN cents c),
assign AS (SELECT vec_id, cell FROM assign0 WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      WHERE vec_id < {ANN_QUERIES}),
probes0 AS (
  SELECT q.query_id, c.cell,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
            ORDER BY list_cosine_similarity(q.qe, c.ce) DESC, c.cell) AS rn
  FROM q CROSS JOIN cents c),
probes AS (SELECT query_id, cell FROM probes0 WHERE rn <= {IVF_PROBE}),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a ON a.cell = p.cell),
scored AS (
  SELECT c.query_id, c.vec_id,
         list_cosine_similarity(v.embedding, q.qe) AS cos
  FROM cand c JOIN embeddings v ON v.vec_id = c.vec_id
              JOIN q ON q.query_id = c.query_id
  WHERE c.vec_id != c.query_id),
r AS (SELECT query_id, vec_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id)
             AS INTEGER) AS rank
      FROM scored)
SELECT query_id, vec_id, rank FROM r WHERE rank <= {ANN_K}
""".strip()


# ------------------------------------------------------------------ surface

# --------------------------------------------------------------------------
# multimodal decode gate: formula → encode → REAL decode → stats, vs the
# formula computed directly in SQL. Any header/padding/row-order/channel-
# order bug in the codecs (functions/mediacodec.py) flips the
# order-sensitive checksum; roundtrip-match proves decode ∘ encode = id,
# format-vs-spec correctness is pinned by byte-literal fixtures in
# tests/test_multimodal.py.
# --------------------------------------------------------------------------

MM_DOCS = 200
MM_PPM_W, MM_PPM_H = 16, 8            # 384 values
MM_BMP_W, MM_BMP_H = 13, 5            # 39-byte rows → exercises 4-byte pad
MM_WAV_N, MM_WAV_CH = 77, 2           # int16 stereo
MM_PNG_W, MM_PNG_H = 11, 7            # RGB, real-deflate IDAT


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fmt, n_values, sum_values, min_val, max_val, checksum) per
    synthesized payload; checksum = Σ v_k · (k mod 97) over the DECODED
    logical order (PPM/BMP: row-major top-down RGB; WAV: interleaved)."""
    import pandas as pd

    load_views(spark, sf_dir, ("documents",))
    ids = spark.table("documents").select("doc_id").filter(
        F.col("doc_id") < MM_DOCS
    )
    schema = (
        "doc_id long, fmt string, n_values long, sum_values long, "
        "min_val long, max_val long, checksum long"
    )

    def kernel(batches):
        import numpy as np

        from linear_kdtree_spark.functions.mediacodec import (
            encode_bmp,
            encode_png,
            encode_ppm,
            encode_wav,
        )
        from linear_kdtree_spark.operators.multimodal import (
            decode_audio,
            decode_image,
        )

        def stats(doc_id, fmt, values):
            v = values.astype(np.int64).ravel()
            k = np.arange(len(v), dtype=np.int64)
            return {
                "doc_id": doc_id,
                "fmt": fmt,
                "n_values": len(v),
                "sum_values": int(v.sum()),
                "min_val": int(v.min()),
                "max_val": int(v.max()),
                "checksum": int((v * (k % 97)).sum()),
            }

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                d = int(doc_id)
                k = np.arange(MM_PPM_W * MM_PPM_H * 3, dtype=np.int64)
                ppm = ((d * 31 + k * 2654435761) % 256).astype(np.uint8)
                img = decode_image(
                    encode_ppm(ppm.reshape(MM_PPM_H, MM_PPM_W, 3))
                )
                rows.append(stats(d, "ppm", img))

                k = np.arange(MM_BMP_W * MM_BMP_H * 3, dtype=np.int64)
                bmp = ((d * 17 + k * 1013904223) % 256).astype(np.uint8)
                img = decode_image(
                    encode_bmp(bmp.reshape(MM_BMP_H, MM_BMP_W, 3))
                )
                rows.append(stats(d, "bmp", img))

                # PNG leg: stdlib zlib compresses and inflates the IDAT;
                # chunk parsing and filter reversal are mediacodec.py's
                k = np.arange(MM_PNG_W * MM_PNG_H * 3, dtype=np.int64)
                png = ((d * 23 + k * 2246822519) % 256).astype(np.uint8)
                img = decode_image(
                    encode_png(png.reshape(MM_PNG_H, MM_PNG_W, 3))
                )
                rows.append(stats(d, "png", img))

                k = np.arange(MM_WAV_N * MM_WAV_CH, dtype=np.int64)
                wav = (((d * 7 + k * 48271) % 65536) - 32768).astype(np.int16)
                samples, rate = decode_audio(
                    encode_wav(wav.reshape(MM_WAV_N, MM_WAV_CH), 16000)
                )
                assert rate == 16000
                rows.append(stats(d, "wav", samples))
            yield pd.DataFrame(rows)

    return ids.mapInPandas(kernel, schema)


def multimodal_decode_oracle_sql() -> str:
    parts = []
    for fmt, n, formula in (
        ("ppm", MM_PPM_W * MM_PPM_H * 3, "(d.doc_id * 31 + t.k * 2654435761) % 256"),
        ("bmp", MM_BMP_W * MM_BMP_H * 3, "(d.doc_id * 17 + t.k * 1013904223) % 256"),
        ("png", MM_PNG_W * MM_PNG_H * 3,
         "(d.doc_id * 23 + t.k * 2246822519) % 256"),
        ("wav", MM_WAV_N * MM_WAV_CH,
         "((d.doc_id * 7 + t.k * 48271) % 65536) - 32768"),
    ):
        parts.append(f"""
SELECT d.doc_id, '{fmt}' AS fmt,
  COUNT(*) AS n_values,
  CAST(SUM({formula}) AS BIGINT) AS sum_values,
  MIN({formula}) AS min_val, MAX({formula}) AS max_val,
  CAST(SUM(({formula}) * (t.k % 97)) AS BIGINT) AS checksum
FROM (SELECT doc_id FROM documents WHERE doc_id < {MM_DOCS}) d
CROSS JOIN (SELECT CAST(range AS BIGINT) AS k FROM range(0, {n})) t
GROUP BY d.doc_id""".strip())
    return "\nUNION ALL\n".join(parts)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (word 1/2/3-grams:
    totals, distincts, max counts — all integers) over every document."""
    from linear_kdtree_spark.functions.text import repetition_stats

    load_views(spark, sf_dir, ("documents",))
    return repetition_stats(spark.table("documents"))


def repetition_oracle_sql() -> str:
    gram_selects = """
  SELECT doc_id, 1 AS n, UNNEST(ws) AS gram FROM w
  UNION ALL
  SELECT doc_id, 2 AS n,
    UNNEST(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]))
  FROM w
  UNION ALL
  SELECT doc_id, 3 AS n,
    UNNEST(list_transform(range(1, len(ws) - 1),
      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
  FROM w""".strip()
    cols = []
    for o, nm in ((1, "word"), (2, "bigram"), (3, "trigram")):
        cols += [
            f"CAST(COALESCE(MAX(CASE WHEN n = {o} THEN total END), 0) AS BIGINT) AS n_{nm}s",
            f"CAST(COALESCE(MAX(CASE WHEN n = {o} THEN dist END), 0) AS BIGINT) AS n_distinct_{nm}s",
            f"CAST(COALESCE(MAX(CASE WHEN n = {o} THEN mx END), 0) AS BIGINT) AS max_{nm}_count",
        ]
    return f"""
WITH w AS (SELECT doc_id, {RAW_TOKENS_DUCK} AS ws FROM documents),
g AS ({gram_selects}),
c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY doc_id, n, gram),
s AS (SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS total, COUNT(*) AS dist,
             MAX(c) AS mx FROM c GROUP BY doc_id, n)
SELECT d.doc_id, {", ".join(cols)}
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
GROUP BY d.doc_id
""".strip()


# messy deterministic URLs exercising every canonicalization rule: case,
# default ports (:80 stripped for http, :443 on http is NON-default and
# kept), port-lookalikes and '&utm_' inside the PATH (must survive —
# review r5), adjacent tracking params, tracking params leading /
# following / only, fragments, trailing slashes — identical text in both
# engines
CANON_URLS_SQL = """
SELECT doc_id,
  'HtTp://Host' || CAST(doc_id % 20 AS STRING) || '.ExAmple.com'
  || CASE WHEN doc_id % 3 = 0 THEN ':80' WHEN doc_id % 3 = 1 THEN ':443' ELSE '' END
  || '/path' || CAST(doc_id % 7 AS STRING)
  || CASE WHEN doc_id % 5 = 0 THEN '/v:80/w'
          WHEN doc_id % 5 = 3 THEN '/r&utm_x=1' ELSE '' END
  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
  || CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&q=' || CAST(doc_id % 5 AS STRING)
          WHEN doc_id % 4 = 1 THEN '?q=' || CAST(doc_id % 5 AS STRING) || '&gclid=abc'
          WHEN doc_id % 4 = 2 THEN '?utm_campaign=z&utm_medium=m' ELSE '' END
  || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
FROM documents
""".strip()


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact dedup on the canonical form →
    (doc_id, canon_url, canonical_id, is_duplicate)."""
    from linear_kdtree_spark.operators.curation import url_dedup

    load_views(spark, sf_dir, ("documents",))
    return url_dedup(spark.sql(CANON_URLS_SQL))


def url_dedup_oracle_sql() -> str:
    # mirrors operators/curation.canonicalize_url step by step: fragment,
    # lowercase authority, anchored scheme-default-port strip, query-string
    # split-filter for tracking params, trailing slash
    return f"""
WITH base AS ({CANON_URLS_SQL}),
u0 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u1 FROM base),
u AS (SELECT doc_id,
  regexp_replace(regexp_replace(
    lower(regexp_extract(u1, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1))
      || regexp_replace(u1, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', ''),
    '^(http://[^/:?]*):80([/?].*)?$', '\\1\\2'),
    '^(https://[^/:?]*):443([/?].*)?$', '\\1\\2') AS u2
  FROM u0),
q AS (SELECT doc_id,
  regexp_extract(u2, '^([^?]*)', 1) AS base_part,
  COALESCE(array_to_string(list_filter(
    string_split(regexp_extract(u2, '^[^?]*\\?(.*)$', 1), '&'),
    p -> NOT regexp_matches(p, '^(utm_[a-zA-Z]+|fbclid|gclid)=')), '&'), '')
    AS kept
  FROM u),
c AS (SELECT doc_id, regexp_replace(
  CASE WHEN kept = '' THEN base_part ELSE base_part || '?' || kept END,
  '/$', '') AS canon_url FROM q),
w AS (SELECT canon_url, MIN(doc_id) AS canonical_id FROM c GROUP BY canon_url)
SELECT c.doc_id, c.canon_url,
  COALESCE(w.canonical_id, c.doc_id) AS canonical_id,
  CAST(CASE WHEN c.doc_id != COALESCE(w.canonical_id, c.doc_id)
       THEN 1 ELSE 0 END AS INTEGER) AS is_duplicate
FROM c LEFT JOIN w ON c.canon_url = w.canon_url
""".strip()


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embeddings table, exploded to
    integer rows → (vec_id, pos, q)."""
    from linear_kdtree_spark.operators.similarity import quantize_embeddings

    load_views(spark, sf_dir, ("embeddings",))
    return quantize_embeddings(spark.table("embeddings"))


def embed_quantize_oracle_sql() -> str:
    return """
WITH s AS (
  SELECT vec_id, embedding,
    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS sc
  FROM embeddings
)
SELECT vec_id,
  CAST(UNNEST(range(1, len(embedding) + 1)) - 1 AS INTEGER) AS pos,
  CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) / sc * 127.0 + 0.5)
       AS INTEGER) AS q
FROM s WHERE sc > 0
""".strip()


def pipeline_queries():
    return {
        "multimodal_decode": q_multimodal_decode,
        "repetition": q_repetition,
        "url_dedup": q_url_dedup,
        "embed_quantize": q_embed_quantize,
        "text_stats": q_text_stats,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "dedup_exact": q_dedup_exact,
        "curation": q_curation,
        "ngram_profile": q_ngram_profile,
        "jaccard_pairs": q_jaccard_pairs,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "ann_brute": q_ann_brute,
        "ann_ivf": q_ann_ivf,
        "domain_stats": q_domain_stats,
        "pii_scrub": q_pii_scrub,
        "ngram_score": q_ngram_score,
        "mixture_sample": q_mixture_sample,
        "domain_cap": q_domain_cap,
    }


def pipeline_oracles():
    return {
        "multimodal_decode": multimodal_decode_oracle_sql(),
        "repetition": repetition_oracle_sql(),
        "url_dedup": url_dedup_oracle_sql(),
        "embed_quantize": embed_quantize_oracle_sql(),
        "text_stats": text_stats_oracle_sql(),
        "quality": quality_oracle_sql(),
        "lang_id": lang_id_oracle_sql(),
        "fingerprint": fingerprint_oracle_sql(),
        "dedup_exact": dedup_exact_oracle_sql(),
        "curation": curation_oracle_sql(),
        "ngram_profile": ngram_profile_oracle_sql(),
        "jaccard_pairs": jaccard_pairs_oracle_sql(),
        "minhash_lsh": minhash_lsh_oracle_sql(),
        "simhash": simhash_oracle_sql(),
        "ann_brute": ann_brute_oracle_sql(),
        "ann_ivf": ann_ivf_oracle_sql(),
        "domain_stats": domain_stats_oracle_sql(),
        "pii_scrub": pii_scrub_oracle_sql(),
        "ngram_score": ngram_score_oracle_sql(),
        "mixture_sample": mixture_sample_oracle_sql(),
        "domain_cap": domain_cap_oracle_sql(),
    }
