"""Dedup / text / similarity / multimodal operators vs Python oracles."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy cat", "en"),
        (2, "der schnelle braune fuchs springt und das ist gut", "de"),
        (3, "le chat et la souris est les amis", "fr"),
        (4, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (5, "completely different words here about spark engines", "en"),
        (6, "el gato y la casa que es grande los dias", "es"),
        (7, "", "und"),
        (8, "one", "und"),
        (9, "o que de em os dias grandes", "pt"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def py_tokens(t):
    return [w for w in t.lower().split() if w]


def py_shingles(t, n=3):
    toks = [w for w in t.split() if w]
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


def test_exact_dedup(spark, docs):
    from linear_kdtree_spark.operators.dedup import exact_dedup

    got = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert got[4]["canonical_id"] == 0 and got[4]["is_duplicate"]
    assert got[0]["canonical_id"] == 0 and not got[0]["is_duplicate"]
    assert got[0]["group_size"] == 2
    assert got[5]["group_size"] == 1
    assert got[0]["content_hash"] == hashlib.md5(
        b"the quick brown fox jumps over the lazy dog"
    ).hexdigest()


def test_shingles_and_jaccard(spark, docs):
    from linear_kdtree_spark.operators.dedup import jaccard_pairs, ngram_profile

    prof = {r["doc_id"]: r["n_shingles"] for r in ngram_profile(docs, 3).collect()}
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, text in rows.items():
        assert prof[did] == len(py_shingles(text, 3)), did

    pairs = spark.createDataFrame([(0, 1), (0, 4), (0, 5), (7, 8)],
                                  "a_id long, b_id long")
    got = {(r["a_id"], r["b_id"]): r["jaccard"]
           for r in jaccard_pairs(docs, pairs, 3).collect()}

    def jac(a, b):
        sa, sb = set(py_shingles(rows[a], 3)), set(py_shingles(rows[b], 3))
        u = sa | sb
        return len(sa & sb) / len(u) if u else 1.0

    for (a, b), v in got.items():
        assert v == pytest.approx(jac(a, b)), (a, b)
    assert got[(0, 4)] == 1.0
    assert got[(0, 5)] == 0.0
    assert got[(7, 8)] == 1.0  # both empty shingle sets → defined as 1.0


def test_minhash_lsh_finds_dups(spark, docs):
    from linear_kdtree_spark.operators.dedup import lsh_candidate_pairs, minhash_dedup

    cands = {(r["a_id"], r["b_id"])
             for r in lsh_candidate_pairs(docs, num_perm=8, bands=4).collect()}
    assert (0, 4) in cands  # exact dups always collide
    refined = {(r["a_id"], r["b_id"]): r["jaccard"]
               for r in minhash_dedup(docs, threshold=0.5, num_perm=8, bands=4).collect()}
    assert refined[(0, 4)] == 1.0
    assert all(j >= 0.5 for j in refined.values())


def test_minhash_signature_oracle(spark, docs):
    """md5-min signature equals the Python re-computation."""
    from linear_kdtree_spark.operators.dedup import minhash_signature

    got = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", minhash_signature("text", 4, 3).alias("sig")
        ).collect()
    }
    for did, text in [(0, "the quick brown fox jumps over the lazy dog")]:
        sh = py_shingles(text, 3)
        for j in range(4):
            expect = min(hashlib.md5(f"{s}:{j}".encode()).hexdigest() for s in sh)
            assert got[did][j] == expect


def test_simhash_oracle(spark, docs):
    from linear_kdtree_spark.operators.dedup import simhash_profile

    got = {r["doc_id"]: r["simhash"]
           for r in simhash_profile(docs, bits=16).collect()}

    def py_simhash(text, bits=16):
        toks = list(dict.fromkeys(py_tokens(text)))
        out = 0
        for j in range(bits):
            tally = 0
            for t in toks:
                h = hashlib.md5(t.encode()).hexdigest()
                hv = int(h[j // 4], 16)
                bit = (hv >> (3 - j % 4)) & 1
                tally += 1 if bit else -1
            if tally >= 0:
                out |= 1 << j
        return out

    for did, text in [(0, "the quick brown fox jumps over the lazy dog"),
                      (7, ""), (8, "one")]:
        assert got[did] == py_simhash(text), did
    assert got[0] == got[4]
    # near-dup docs 0/1 differ in ≤ a few bits
    ham = bin(got[0] ^ got[1]).count("1")
    assert ham <= 6


def test_simhash_near_pairs(spark, docs):
    from linear_kdtree_spark.operators.dedup import simhash_near_pairs

    got = {(r["a_id"], r["b_id"]): r["hamming"]
           for r in simhash_near_pairs(docs, bits=16, max_hamming=2).collect()}
    assert got.get((0, 4)) == 0


def test_text_stats_and_lang(spark, docs):
    from linear_kdtree_spark.functions.text import (
        bpe_ish_token_count, lang_id, quality_score, token_count,
    )

    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            token_count(F.col("text")).alias("nt"),
            bpe_ish_token_count(F.col("text")).alias("nb"),
            lang_id(F.col("text")).alias("lg"),
            quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert out[0]["nt"] == 9
    assert out[7]["nt"] == 0 and out[7]["lg"] == "und"
    assert out[0]["lg"] == "en"
    assert out[2]["lg"] == "de"
    assert out[3]["lg"] == "fr"
    assert out[6]["lg"] == "es"
    assert out[9]["lg"] == "pt"
    assert out[7]["q"] < out[0]["q"]


def test_fingerprint_and_karp_rabin(spark, docs):
    from linear_kdtree_spark.functions.text import (
        FP_MOD, fingerprint_expr, make_karp_rabin_udf,
    )

    got = {r["doc_id"]: r["fp"]
           for r in docs.select("doc_id",
                                fingerprint_expr(F.col("text")).alias("fp")).collect()}

    def py_fp(text):
        return sum(
            ord(c) * ((i + 1) * 2654435761 % FP_MOD) for i, c in enumerate(text)
        ) % FP_MOD

    for did, text in [(0, "the quick brown fox jumps over the lazy dog"),
                      (7, ""), (8, "one")]:
        assert got[did] == py_fp(text), did

    kr = make_karp_rabin_udf(window=8)
    rows = {r["doc_id"]: r["kr"]
            for r in docs.select("doc_id", kr(F.col("text")).alias("kr")).collect()}
    assert rows[0] == rows[4]  # identical text → identical min window hash
    assert rows[7] == -1  # shorter than window
    assert rows[0] != rows[5]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    n, d = 120, 16
    v = rng.normal(size=(n, d)).astype(np.float32)
    v[100] = v[0] * 1.0001  # near-dup pair
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": list(v)})
    ), v


def test_brute_topk_cosine(spark, vectors):
    from linear_kdtree_spark.operators.similarity import brute_topk_cosine

    df, v = vectors
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = {}
    for r in brute_topk_cosine(df, queries, 4).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = vn @ vn.T
    for q in range(5):
        s = sims[q].copy()
        s[q] = -np.inf
        order = np.lexsort((np.arange(len(s)), -s))[:4]
        assert [vid for _, vid in sorted(got[q])] == list(order), q


def test_ivf_recall_and_near_dup(spark, vectors):
    from linear_kdtree_spark.operators.similarity import (
        brute_topk_cosine, cosine_near_dup_pairs, ivf_topk_cosine,
    )

    df, v = vectors
    queries = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    brute = {(r["query_id"], r["vec_id"])
             for r in brute_topk_cosine(df, queries, 3).collect()}
    ivf = {(r["query_id"], r["vec_id"])
           for r in ivf_topk_cosine(df, queries, 3, n_cells=4, n_probe=2).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5  # approximate, but must be meaningfully overlapping
    assert len(ivf) == len(brute)

    dups = {(r["a_id"], r["b_id"])
            for r in cosine_near_dup_pairs(df, threshold=0.999).collect()}
    assert (0, 100) in dups


def test_near_dup_recall(spark):
    """Banded sign-LSH must find NEAR-but-not-identical pairs (the round-1
    single-band version silently missed ~57 % of them): every 7th vector
    gets an ε-noised copy (cosine ≈ 0.97-0.999, never exactly 1), and the
    engine's pair set is held to recall ≥ 0.95 / precision 1.0 against the
    brute-force numpy oracle."""
    from linear_kdtree_spark.operators.similarity import cosine_near_dup_pairs

    rng = np.random.default_rng(11)
    n, d = 140, 16
    v = rng.normal(size=(n, d)).astype(np.float64)
    extra = []
    for i in range(0, n, 7):
        noisy = v[i] + rng.normal(scale=0.08 * np.linalg.norm(v[i]) / np.sqrt(d),
                                  size=d)
        extra.append((1000 + i, noisy))
    allv = np.vstack([v] + [e[1] for e in extra])
    ids = np.concatenate([np.arange(n), [e[0] for e in extra]])
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": list(allv.astype(np.float32))})
    )
    got = {(r["a_id"], r["b_id"])
           for r in cosine_near_dup_pairs(df, threshold=0.95).collect()}

    vn = allv / np.linalg.norm(allv, axis=1, keepdims=True)
    sims = vn @ vn.T
    expect = set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if sims[a, b] >= 0.95:
                pair = tuple(sorted((int(ids[a]), int(ids[b]))))
                expect.add(pair)
    assert expect, "fixture must contain true near-dup pairs"
    # sanity: the injected pairs are near-dups but NOT identical
    assert all(sims[a, b] < 0.99999
               for a in range(n) for b in range(n, len(ids))
               if int(ids[b]) == 1000 + a)
    recall = len(got & expect) / len(expect)
    assert recall >= 0.95, (recall, expect - got)
    # precision is deterministic 1.0: the exact-cosine refine drops every
    # sub-threshold candidate (float32-vs-float64 boundary pairs excepted —
    # none in this fixture by construction)
    assert got <= expect, got - expect


def test_multimodal_plumbing(spark):
    from linear_kdtree_spark.operators.multimodal import (
        attach_media_metadata, decode_image, extract_image_features, sample_frames,
    )

    rows = [
        ("u0", bytearray(b"\x89PNG\r\n" + b"x" * 1000)),
        ("u1", bytearray(b"\xff\xd8\xff" + b"y" * 2048)),
        ("u2", bytearray(b"RIFFxxxx" + b"z" * 512)),
    ]
    df = spark.createDataFrame(rows, "url string, payload binary")
    meta = {r["url"]: r for r in attach_media_metadata(df).collect()}
    assert meta["u0"]["media_type"] == "image/png"
    assert meta["u1"]["media_type"] == "image/jpeg"
    assert meta["u2"]["media_type"] == "audio/wav"
    assert meta["u0"]["byte_len"] == 1006

    feats = {r["url"]: r for r in extract_image_features(df).collect()}
    assert len(feats) == 3
    assert len(feats["u0"]["feature"]) == 16
    assert feats["u0"]["width"] == 8 and feats["u0"]["channels"] == 3
    # garbage payloads went through the stand-in and say so
    assert all(f["media_type"] == "image/fake" for f in feats.values())
    # deterministic: same bytes → same features
    feats2 = {r["url"]: r for r in extract_image_features(df).collect()}
    assert feats["u0"]["mean_intensity"] == feats2["u0"]["mean_intensity"]

    # really-decodable payloads report their sniffed type, and a tiny
    # 1x1 image must yield finite features (review r5: it pooled over
    # zero groups -> all-NaN), even at fake_decode=False
    import math

    from linear_kdtree_spark.functions.mediacodec import encode_ppm

    tiny = np.full((1, 1, 3), 7, dtype=np.uint8)
    big = np.arange(300, dtype=np.uint8).reshape(10, 10, 3)
    df2 = spark.createDataFrame(
        [("t", bytearray(encode_ppm(tiny))), ("b", bytearray(encode_ppm(big)))],
        "url string, payload binary",
    )
    f2 = {r["url"]: r for r in
          extract_image_features(df2, fake_decode=False).collect()}
    assert f2["t"]["media_type"] == "image/x-portable-anymap"
    assert f2["t"]["width"] == 1 and f2["t"]["height"] == 1
    assert all(math.isfinite(v) for v in f2["t"]["feature"])
    assert all(abs(v - 7.0) < 1e-6 for v in f2["t"]["feature"])
    assert f2["b"]["media_type"] == "image/x-portable-anymap"

    with pytest.raises(NotImplementedError):
        decode_image(b"abc", fake=False)

    frames = sample_frames(df, every_nth=2, frame_size=256).collect()
    by_url = {}
    for r in frames:
        by_url.setdefault(r["url"], []).append(r["frame_no"])
    assert by_url["u1"] == [0, 2, 4, 6]  # 2051 bytes → 8 frames, every 2nd
    assert all(len(r["frame"]) <= 256 for r in frames)


def test_streaming_incremental_build(spark, tmp_path):
    from linear_kdtree_spark.streaming.incremental import StreamingIndexer

    rng = np.random.default_rng(5)
    out = str(tmp_path / "stream_out")
    indexer = StreamingIndexer(out_path=out, max_depth=8, rebuild_every=2)
    indexes = []
    for batch_id in range(3):
        pdf = pd.DataFrame(
            {
                "key": np.arange(batch_id * 100, batch_id * 100 + 100),
                "x": rng.uniform(0, 100, 100).astype("float32"),
                "y": rng.uniform(0, 100, 100).astype("float32"),
            }
        )
        indexer.process_batch(spark.createDataFrame(pdf), batch_id)
        indexes.append(indexer.index)
    # batch 2 rebuilt the index; the replaced one's cached points are freed
    assert indexes[0] is indexes[1] is not indexes[2]
    assert indexes[0].points.storageLevel == StorageLevel.NONE
    assert indexes[2].points.storageLevel != StorageLevel.NONE
    result = spark.read.parquet(out)
    assert result.count() == 300
    assert result.select("batch_id").distinct().count() == 3
    assert {"code", "node", "sort_key"} <= set(result.columns)

    # restart + replay (review r5): a crash after writing batch 2 but
    # before its checkpoint commit replays it into a FRESH indexer. The
    # sink must hold each batch exactly once (dynamic partition overwrite,
    # not blind append) and the rebuild must see ALL committed history,
    # not just the replayed batch.
    replay = StreamingIndexer(out_path=out, max_depth=8, rebuild_every=2)
    pdf = pd.DataFrame(
        {
            "key": np.arange(200, 300),
            "x": rng.uniform(0, 100, 100).astype("float32"),
            "y": rng.uniform(0, 100, 100).astype("float32"),
        }
    )
    replay.process_batch(spark.createDataFrame(pdf), 2)
    after = spark.read.parquet(out)
    assert after.count() == 300  # no duplicate rows from the replay
    assert after.select("batch_id").distinct().count() == 3
    # the post-restart rebuild covered every batch: 300 points in the tree
    assert replay.index is not None and replay.index.tree.total_points == 300


def test_pii_scrub_and_host(spark):
    from linear_kdtree_spark.functions.text import (
        EMAIL_RE, PHONE_RE, count_pattern, host_of, scrub_pii,
    )

    rows = [
        (0, "write to a.b+c@mail.example or call 555-123-4567 now",
         "https://sub.host.example/p/1"),
        (1, "no pii here", "http://h.example/"),
        (2, "two mails x@y.example z@w.example", "ftp://nope"),
    ]
    df = spark.createDataFrame(rows, "i long, text string, url string")
    got = {r["i"]: r for r in df.select(
        "i",
        count_pattern(F.col("text"), EMAIL_RE).alias("ne"),
        count_pattern(F.col("text"), PHONE_RE).alias("np"),
        scrub_pii(F.col("text")).alias("s"),
        host_of(F.col("url")).alias("h"),
    ).collect()}
    assert got[0]["ne"] == 1 and got[0]["np"] == 1
    assert "<EMAIL>" in got[0]["s"] and "<PHONE>" in got[0]["s"]
    assert "a.b+c@" not in got[0]["s"] and "555-123-4567" not in got[0]["s"]
    assert got[0]["h"] == "sub.host.example"
    assert got[1]["ne"] == 0 and got[1]["np"] == 0 and got[1]["s"] == "no pii here"
    assert got[1]["h"] == "h.example"
    assert got[2]["ne"] == 2
    assert got[2]["h"] == ""  # non-http scheme → unparseable → empty


def test_corpus_ngram_score(spark, docs):
    from linear_kdtree_spark.functions.text import corpus_ngram_score

    got = {r["doc_id"]: r["ngram_score"]
           for r in corpus_ngram_score(docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    from collections import Counter
    freq = Counter(
        t[i:i + 3] for t in texts.values() for i in range(len(t) - 2)
    )
    for did, t in texts.items():
        expect = sum(freq[t[i:i + 3]] for i in range(len(t) - 2))
        assert got[did] == expect, did
    assert got[7] == 0  # empty doc
    # exact duplicates score identically; doc 0/4 share all trigrams
    assert got[0] == got[4]


def test_curation_sampling_and_cap(spark, docs):
    from linear_kdtree_spark.operators.curation import (
        cap_per_group, deterministic_sample, sample_hash,
    )

    # rerun-determinism: two invocations keep the identical row set
    a = {r["doc_id"] for r in
         deterministic_sample(docs, 0.5, stratify_col="lang").collect()}
    b = {r["doc_id"] for r in
         deterministic_sample(docs, 0.5, stratify_col="lang").collect()}
    assert a == b
    # rate monotonicity: a higher rate keeps a superset
    c = {r["doc_id"] for r in
         deterministic_sample(docs, 0.9, stratify_col="lang").collect()}
    assert a <= c
    # per-stratum rates: rate-0 stratum vanishes, rate-1 stratum survives
    d = deterministic_sample(
        docs, {"en": 1.0}, stratify_col="lang", default_rate=0.0
    ).collect()
    assert {r["lang"] for r in d} == {"en"}
    assert len([r for r in d if r["lang"] == "en"]) == 4  # all en docs kept
    # matches the hash predicate exactly
    hs = {r["doc_id"]: r["h"] for r in
          docs.select("doc_id", sample_hash(F.col("doc_id")).alias("h")).collect()}
    assert a == {i for i, h in hs.items() if h < 500_000}

    capped = cap_per_group(
        docs.select("doc_id", "lang"), "lang",
        [F.asc("doc_id")], 2,
    ).collect()
    per = {}
    for r in capped:
        per.setdefault(r["lang"], []).append(r["doc_id"])
    assert all(len(v) <= 2 for v in per.values())
    assert per["en"] == [0, 1]  # lowest ids win with asc ordering


def test_repetition_stats_handcrafted(spark):
    """Known-answer check: 'a b a b a' → 5 words (2 distinct, 'a'×3),
    4 bigrams ('a b'×2, 'b a'×2 → 2 distinct, max 2), 3 trigrams
    ('a b a'×2, 'b a b' → 2 distinct, max 2); plus a single-word doc."""
    from linear_kdtree_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "solo")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert rows[1] == {
        "doc_id": 1,
        "n_words": 5, "n_distinct_words": 2, "max_word_count": 3,
        "n_bigrams": 4, "n_distinct_bigrams": 2, "max_bigram_count": 2,
        "n_trigrams": 3, "n_distinct_trigrams": 2, "max_trigram_count": 2,
    }
    assert rows[2] == {
        "doc_id": 2,
        "n_words": 1, "n_distinct_words": 1, "max_word_count": 1,
        "n_bigrams": 0, "n_distinct_bigrams": 0, "max_bigram_count": 0,
        "n_trigrams": 0, "n_distinct_trigrams": 0, "max_trigram_count": 0,
    }


def test_canonicalize_url_rules(spark):
    """Known-answer coverage of every canonicalization rule."""
    from linear_kdtree_spark.operators.curation import canonicalize_url
    from pyspark.sql import functions as F

    cases = [
        ("HtTpS://WWW.Example.COM:443/A/b/?utm_source=x#frag",
         "https://www.example.com/A/b"),
        ("http://h.example:80/p?q=1&utm_campaign=z&r=2",
         "http://h.example/p?q=1&r=2"),
        ("http://h.example/p?gclid=abc", "http://h.example/p"),
        ("http://h.example/p?utm_a=1&q=2", "http://h.example/p?q=2"),
        ("http://h.example:8080/p", "http://h.example:8080/p"),
        ("http://h.example", "http://h.example"),
        # anchoring (review r5): port-lookalikes and tracking-lookalikes
        # inside the PATH must survive untouched
        ("http://h.example/a:80/b", "http://h.example/a:80/b"),
        ("http://h.example/a&utm_b=c", "http://h.example/a&utm_b=c"),
        ("http://h.example:80/a:443/b?x=1", "http://h.example/a:443/b?x=1"),
        # :443 on http is NOT the default port — a different origin, kept
        ("http://h.example:443/p", "http://h.example:443/p"),
        # adjacent tracking params all removed
        ("http://h.example/p?utm_a=1&utm_b=2&q=3", "http://h.example/p?q=3"),
        ("http://h.example/p?utm_a=1&utm_b=2", "http://h.example/p"),
    ]
    df = spark.createDataFrame(cases, "url string, expect string")
    rows = df.select("expect",
                     canonicalize_url(F.col("url")).alias("got")).collect()
    for r in rows:
        assert r["got"] == r["expect"], (r["got"], r["expect"])


def test_url_dedup_canonical_grouping(spark):
    from linear_kdtree_spark.operators.curation import url_dedup

    df = spark.createDataFrame(
        [(1, "HTTP://A.example/x/"), (2, "http://a.example/x"),
         (3, "http://b.example/y?utm_q=1"), (4, "http://b.example/y")],
        "doc_id long, url string",
    )
    rows = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert rows[1]["canonical_id"] == 1 and rows[1]["is_duplicate"] == 0
    assert rows[2]["canonical_id"] == 1 and rows[2]["is_duplicate"] == 1
    assert rows[4]["canonical_id"] == 3 and rows[4]["is_duplicate"] == 1


def test_url_dedup_keeps_null_urls(spark):
    """A NULL url must not vanish from the output (an inner equi-join on
    the canonical form silently dropped it — review r5): the doc is kept
    as its own canonical, never a duplicate."""
    from linear_kdtree_spark.operators.curation import url_dedup

    df = spark.createDataFrame(
        [(1, "http://a.example/x"), (2, None), (3, None)],
        "doc_id long, url string",
    )
    rows = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert set(rows) == {1, 2, 3}
    for d in (2, 3):
        assert rows[d]["canonical_id"] == d and rows[d]["is_duplicate"] == 0


def test_quantize_embeddings_bounds_and_fidelity(spark):
    """q ∈ [-127, 127], max-|v| element hits ±127 exactly, and
    dequantized cosine similarity to the original stays > 0.999."""
    import numpy as np

    from linear_kdtree_spark.operators.similarity import quantize_embeddings

    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.normal(size=32)]) for i in range(50)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = quantize_embeddings(df).collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r["vec_id"], {})[r["pos"]] = r["q"]
    for vid, emb in vecs:
        q = np.array([by_vec[vid][p] for p in range(32)], dtype=np.float64)
        v = np.float32(emb).astype(np.float64)
        assert np.abs(q).max() == 127
        cos = (q @ v) / (np.linalg.norm(q) * np.linalg.norm(v))
        assert cos > 0.999, (vid, cos)


def test_ivf_kmeans_recall_and_determinism(spark):
    """Data-adaptive k-means quantizer on a CLUSTERED embedding space:
    recall at least matches the id-stride quantizer (which lands uneven
    cells on clustered data), and reruns are byte-identical (fixed-point
    sums kill float summation-order nondeterminism)."""
    from linear_kdtree_spark.operators.similarity import (
        brute_topk_cosine,
        ivf_topk_cosine,
        kmeans_centroids,
    )

    rng = np.random.default_rng(23)
    n_clusters, per, d = 6, 40, 12
    centers = rng.normal(size=(n_clusters, d)) * 5
    v = np.vstack([
        centers[c] + rng.normal(scale=0.3, size=(per, d))
        for c in range(n_clusters)
    ]).astype(np.float32)
    # clustered ids are CONTIGUOUS — the stride quantizer's worst case
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(len(v)), "embedding": list(v)})
    )
    queries = df.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    brute = {(r["query_id"], r["vec_id"])
             for r in brute_topk_cosine(df, queries, 3).collect()}

    def recall(quantizer):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_topk_cosine(
                df, queries, 3, n_cells=6, n_probe=1, quantizer=quantizer
            ).collect()
        }
        return len(brute & got) / len(brute)

    r_stride = recall("stride")
    r_kmeans = recall("kmeans")
    assert r_kmeans >= r_stride, (r_kmeans, r_stride)
    assert r_kmeans >= 0.9, r_kmeans

    a = kmeans_centroids(df, 6, n_iters=3).collect()
    b = kmeans_centroids(df, 6, n_iters=3).collect()
    assert sorted(map(tuple, ((r["cell"], tuple(r["c_embedding"])) for r in a))) == \
        sorted(map(tuple, ((r["cell"], tuple(r["c_embedding"])) for r in b)))


def test_kmeans_sample_mod_trains_on_subset(spark):
    from linear_kdtree_spark.operators.similarity import kmeans_centroids

    rng = np.random.default_rng(29)
    v = rng.normal(size=(200, 8)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(len(v)), "embedding": list(v)})
    )
    cents = kmeans_centroids(df, 4, n_iters=2, sample_mod=4).collect()
    assert len(cents) == 4
    assert all(len(r["c_embedding"]) == 8 for r in cents)
