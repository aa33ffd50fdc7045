"""Training-data pipeline ops vs independent numpy/python oracles on
the driver-provided documents/embeddings tables (sf0.001)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from roll_spark.datapipe.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from roll_spark.datapipe.multimodal import (
    extract_features,
    frame_sample_plan,
    synthesize_media,
)
from roll_spark.datapipe.similarity import brute_topk, lsh_topk
from roll_spark.datapipe.text import lang_id, quality_score, token_stats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    got = {r["text_md5"]: (r["keep_id"], r["n_copies"]) for r in
           exact_dedup(docs, "text", "doc_id").collect()}
    pdf = docs.select("doc_id", "text").toPandas()
    want = {}
    for _, row in pdf.iterrows():
        h = hashlib.md5(row["text"].encode()).hexdigest()
        k, n = want.get(h, (row["doc_id"], 0))
        want[h] = (min(k, row["doc_id"]), n + 1)
    assert got == want


def _py_shingles(text, n=3):
    tok = text.split(" ")
    return {" ".join(tok[i : i + n]) for i in range(len(tok) - n + 1)} if len(tok) >= n else set()


def test_ngram_jaccard_pairs(spark, docs):
    got = {(r["da"], r["db"]): round(r["jaccard"], 9) for r in
           ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.2).collect()}
    pdf = docs.select("doc_id", "text").toPandas()
    sh = {row["doc_id"]: _py_shingles(row["text"]) for _, row in pdf.iterrows()}
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if not sh[a] or not sh[b]:
                continue
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= 0.2:
                want[(a, b)] = round(j, 9)
    assert got == want and len(got) > 0


def test_minhash_lsh_candidates_cover_exact_dups(spark, docs):
    """Every high-jaccard pair must surface as an LSH candidate (with
    32 hashes / 8 bands the S-curve makes j>=0.7 collisions ~certain)."""
    exact = {(r["da"], r["db"]) for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7).collect()}
    cand = {(r["da"], r["db"]) for r in
            minhash_lsh_pairs(docs, "text", "doc_id", verify_threshold=None).collect()}
    missed = exact - cand
    assert not missed, f"LSH missed near-dups: {missed}"
    verified = {(r["da"], r["db"]) for r in
                minhash_lsh_pairs(docs, "text", "doc_id", verify_threshold=0.7).collect()}
    assert verified == exact


def test_simhash_neardup_finds_exact_copies(spark, docs):
    # append exact copies of two docs: hamming 0 pairs must be found
    dup = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 100000)
    aug = docs.unionByName(dup)
    pairs = {(r["da"], r["db"]) for r in
             simhash_neardup_pairs(aug, "text", "doc_id", max_hamming=0).collect()}
    base = [r["doc_id"] for r in docs.limit(2).collect()]
    for b in base:
        assert (b, b + 100000) in pairs


def test_brute_topk_vs_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    got = brute_topk(emb, queries, k=5, round_digits=None).collect()
    E = np.array(emb.orderBy("vec_id").select("embedding").toPandas()["embedding"].tolist(),
                 dtype=np.float64)
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").select("vec_id").collect()]
    idx = {v: i for i, v in enumerate(ids)}
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    for q in range(3):
        sims = En @ En[idx[q]]
        order = [ids[i] for i in np.argsort(-sims, kind="stable") if ids[i] != q][:5]
        got_q = sorted([r for r in got if r["query_id"] == q], key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in got_q] == order, q


def test_lsh_topk_recall(spark, emb):
    """LSH-bucketed ANN: top-1 recall vs brute force must be high on
    this corpus (random hyperplanes, 16 planes / 4 bands)."""
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {r["query_id"]: r["neighbor_id"] for r in
             brute_topk(emb, queries, k=1, round_digits=None).collect()}
    approx = {r["query_id"]: r["neighbor_id"] for r in
              lsh_topk(emb, queries, k=1).collect()}
    hits = sum(1 for q, n in brute.items() if approx.get(q) == n)
    assert hits / len(brute) >= 0.6, f"top-1 recall {hits}/{len(brute)}"


def test_text_ops_match_python(spark, docs):
    pdf = docs.select("doc_id", "text").toPandas()
    stats = {r["doc_id"]: r for r in token_stats(docs, "text", "doc_id").collect()}
    qual = {r["doc_id"]: r for r in quality_score(docs, "text", "doc_id").collect()}
    lang = {r["doc_id"]: r for r in lang_id(docs, "text", "doc_id").collect()}
    for _, row in pdf.iterrows():
        t, d = row["text"], row["doc_id"]
        n_tok = 0 if len(t) == 0 else t.count(" ") + 1
        assert stats[d]["n_tokens"] == n_tok, d
        assert stats[d]["n_chars"] == len(t), d
        digits = sum(c.isdigit() for c in t)
        if len(t):
            assert abs(qual[d]["digit_ratio"] - digits / len(t)) < 1e-6, d
        padded = f" {t} "
        markers = sum(padded.count(m) for m in (" the ", " and ", " of ", " to ", " a "))
        assert lang[d]["en_markers"] == markers, d


def test_lang_id_trigram_accuracy(spark):
    """The trigram-profile classifier separates all four profiled
    languages on a real multilingual fixture; the marker-word heuristic
    cannot (es/de -> 'unk', fr -> mislabeled 'en' via the ' a ' marker).
    This is the accuracy evidence the synthetic documents corpus can't
    provide (its lang labels are uncorrelated with the pseudo-text)."""
    from roll_spark.datapipe.text import lang_id, lang_id_trigram

    docs = [
        (0, "the cat and the dog are playing in the garden of the old house "
            "and the sun is shining", "en"),
        (1, "el perro y el gato juegan en el jardin de la casa que esta "
            "cerca de la plaza del pueblo", "es"),
        (2, "der hund und die katze spielen in dem garten und die sonne "
            "scheint durch die einen fenster", "de"),
        (3, "le chien et le chat jouent dans le jardin de la maison et le "
            "temps est beau ce matin a paris", "fr"),
        (4, "zzzz qqqq kkkk 1234 9876", "unk"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, truth string")
    pred = {
        r["doc_id"]: r["lang_pred"]
        for r in lang_id_trigram(df, "text", "doc_id").collect()
    }
    for i, _t, truth in docs:
        assert pred[i] == truth, (i, pred[i], truth)
    old = {
        r["doc_id"]: r["lang_pred"] for r in lang_id(df, "text", "doc_id").collect()
    }
    wrong_old = sum(1 for i, _t, truth in docs if old[i] != truth)
    assert wrong_old >= 2  # the heuristic misses most non-English docs


def test_multimodal_plumbing(spark):
    media = synthesize_media(spark, n=48)
    feats = extract_features(media).collect()
    assert len(feats) == 48
    for r in feats:
        assert len(r["features"]) == 8
        assert r["features"][0] > 0  # byte count
    plan = frame_sample_plan(media, every_n=2)
    vids = media.filter(F.col("kind") == "video").count()
    assert plan.count() >= vids
    # random bytes are not valid PPM/WAV: the real decoder yields NULL
    # features instead of failing the batch
    real = extract_features(media, decoder="real").collect()
    assert len(real) == 48 and all(r["features"] is None for r in real)


def test_real_decoders_numpy_oracle():
    """PPM/PGM and WAV decode bit-exactly against the arrays that
    generated the fixtures (pure-numpy public formats, no codec libs)."""
    from roll_spark.datapipe.multimodal import (
        _real_decode,
        _stats_vector,
        decode_ppm,
        decode_wav,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.default_rng(99)
    # 8-bit RGB with a header comment, 16-bit grayscale
    img8 = rng.integers(0, 256, (23, 17, 3), dtype=np.uint8)
    blob = encode_ppm(img8)
    blob = blob[:2] + b"\n# a comment\n" + blob[3:]  # spec allows comments
    assert np.array_equal(decode_ppm(blob), img8)
    img16 = rng.integers(0, 65536, (9, 11, 1), dtype=np.uint16)
    assert np.array_equal(decode_ppm(encode_ppm(img16)), img16)
    # 16-bit PCM stereo round-trips to quantization; float32 exact
    sig = np.sin(np.linspace(0, 20, 800)).reshape(-1, 2) * 0.7
    dec, rate = decode_wav(encode_wav(sig, 16000))
    assert rate == 16000 and dec.shape == sig.shape
    assert np.abs(dec - sig).max() < 1.0 / 32768
    decf, _ = decode_wav(encode_wav(sig, 8000, bits=32))
    assert np.array_equal(decf, sig.astype(np.float32).astype(np.float64))
    # feature contract: real features == stats of the source arrays
    f_img = _real_decode(encode_ppm(img8), "image")
    assert np.allclose(f_img, _stats_vector(img8.astype(np.float64).ravel()))
    f_aud = _real_decode(encode_wav(sig, 16000), "audio")
    assert np.allclose(f_aud, _stats_vector(dec.ravel()))
    # unsupported payloads -> None, never an exception
    assert _real_decode(b"\x89PNG\r\n", "image") is None
    assert _real_decode(b"ID3\x04", "audio") is None
    assert _real_decode(encode_ppm(img8), "video") is None


def test_real_decoder_spark_path(spark):
    """decoder='real' through mapInPandas on genuine PPM/WAV payloads."""
    from roll_spark.datapipe.multimodal import encode_ppm, encode_wav

    rng = np.random.default_rng(7)
    rows = []
    for i in range(6):
        img = rng.integers(0, 256, (8 + i, 5, 3), dtype=np.uint8)
        rows.append((i, "image", {"width": 5, "height": 8 + i, "sample_rate": None},
                     encode_ppm(img)))
        sig = rng.normal(size=64) * 0.1
        rows.append((100 + i, "audio", {"width": None, "height": None,
                                        "sample_rate": 16000},
                     encode_wav(sig, 16000)))
    from roll_spark.datapipe.multimodal import MEDIA_SCHEMA
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    out = {r["media_id"]: r["features"]
           for r in extract_features(media, decoder="real").collect()}
    assert len(out) == 12
    for i in range(6):
        assert out[i] is not None and out[i][0] == (8 + i) * 5 * 3
        assert out[100 + i] is not None and out[100 + i][0] == 64


def test_ivf_topk_recall(spark, emb):
    """IVF ANN (sampled spherical k-means cells + n_probe search):
    top-1 recall vs brute force; with n_probe covering a good share of
    the 16 cells, recall should be near-exact on this corpus."""
    from roll_spark.datapipe.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 20)
    brute = {r["query_id"]: r["neighbor_id"] for r in
             brute_topk(emb, queries, k=1, round_digits=None).collect()}
    approx = {r["query_id"]: r["neighbor_id"] for r in
              ivf_topk(emb, queries, k=1, n_centroids=16, n_probe=6).collect()}
    hits = sum(1 for q, n in brute.items() if approx.get(q) == n)
    assert hits / len(brute) >= 0.7, f"top-1 recall {hits}/{len(brute)}"


def test_bpe_token_stats_matches_python(spark, docs):
    import re

    from roll_spark.datapipe.text import BPE_ISH_PATTERN, bpe_token_stats

    pdf = docs.select("doc_id", "text").toPandas()
    got = bpe_token_stats(docs, "text", "doc_id").toPandas().set_index("doc_id")
    pat = re.compile(BPE_ISH_PATTERN)
    for _, row in pdf.iterrows():
        want = len(pat.findall(row["text"]))
        assert got.loc[row["doc_id"], "bpe_tokens"] == want, row["doc_id"]


# ---------------------------------------------------------------------------
# round 2: shingle cap, verified blocking paths, deterministic IVF
# ---------------------------------------------------------------------------


def test_ngram_jaccard_hot_shingle_cap(spark):
    """One ubiquitous shingle must not blow up the inverted self-join:
    with the cap it is dropped BEFORE the join, Jaccard is computed over
    the capped universe, and the join size is bounded by cap * volume."""
    import pandas as pd

    # 30 docs all sharing the stop-gram "a b c"; docs 0/1 and 2/3 are
    # true near-dups beyond it
    rows = []
    for i in range(30):
        uniq = f"u{i} v{i} w{i} x{i}"
        if i in (1, 3):
            uniq = f"u{i-1} v{i-1} w{i-1} x{i}"
        rows.append((i, f"a b c {uniq}"))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    capped = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.15,
                                 max_shingle_df=5)
    got = {(r["da"], r["db"]): round(r["jaccard"], 9) for r in capped.collect()}
    # python oracle over the CAPPED universe
    pdf = {i: _py_shingles(t) for i, t in rows}
    from collections import Counter
    df_count = Counter(sh for s in pdf.values() for sh in s)
    pdf = {i: {sh for sh in s if df_count[sh] <= 5} for i, s in pdf.items()}
    want = {}
    for a in range(30):
        for b in range(a + 1, 30):
            if not pdf[a] or not pdf[b]:
                continue
            inter = len(pdf[a] & pdf[b])
            if not inter:
                continue
            j = inter / (len(pdf[a]) + len(pdf[b]) - inter)
            if j >= 0.15:
                want[(a, b)] = round(j, 9)
    assert got == want and len(got) >= 2
    # without the cap the stop-gram alone creates C(30,2)=435 join rows;
    # with it the surviving join is only the true-dup shingles
    uncapped = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.01)
    assert uncapped.count() == 435
    assert len(got) < 10


def test_simhash_verified_pairs_equal_exact(spark, docs):
    """SimHash-banded candidates + exact trigram verify must equal the
    full exact pair set (banding recall 1 on near-identical docs)."""
    from roll_spark.datapipe.dedup import simhash_verified_pairs

    got = {(r["da"], r["db"]) for r in
           simhash_verified_pairs(docs, "text", "doc_id",
                                  jaccard_threshold=0.5).collect()}
    want = {(r["da"], r["db"]) for r in
            ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    assert got == want and len(got) > 0


def test_embedding_neardup_lsh_equals_brute(spark, emb):
    """The LSH-bucketed near-dup path must lose nothing vs the brute
    all-pairs join at its operating threshold."""
    from roll_spark.datapipe.dedup import embedding_neardup_lsh

    got = {(r["da"], r["db"]) for r in
           embedding_neardup_lsh(emb, "embedding", "vec_id",
                                 threshold=0.4).collect()}
    want = {(r["da"], r["db"]) for r in
            embedding_neardup_pairs(emb, "embedding", "vec_id",
                                    threshold=0.4).collect()}
    assert got == want and len(got) > 0


def test_ivf_fit_deterministic(spark, emb):
    """Two cold fits + searches must produce IDENTICAL results — the
    centroid sample is ordered, never an unordered limit()."""
    from roll_spark.datapipe.similarity import _fit_centroids, ivf_topk

    C1 = _fit_centroids(emb, "embedding", "vec_id", 8, seed=7)
    C2 = _fit_centroids(emb.repartition(7), "embedding", "vec_id", 8, seed=7)
    assert np.array_equal(C1, C2), "fit depends on partition layout"

    queries = emb.filter(F.col("vec_id") < 5)
    r1 = sorted(map(tuple, ivf_topk(emb, queries, k=3, n_centroids=8,
                                    n_probe=4, seed=7).collect()))
    r2 = sorted(map(tuple, ivf_topk(emb.repartition(5), queries, k=3,
                                    n_centroids=8, n_probe=4, seed=7).collect()))
    assert r1 == r2


def test_ivf_seeded_centroids_recall(spark, emb):
    """The data-independent seeded quantizer (oracle-gated variant) still
    reaches usable recall with n_probe=6 of 16 cells."""
    from roll_spark.datapipe.similarity import ivf_topk, seed_centroids

    queries = emb.filter(F.col("vec_id") < 20)
    brute = {r["query_id"]: r["neighbor_id"] for r in
             brute_topk(emb, queries, k=1, round_digits=None).collect()}
    approx = {r["query_id"]: r["neighbor_id"] for r in
              ivf_topk(emb, queries, k=1, n_centroids=16, n_probe=6,
                       centroids=seed_centroids(64, 16, 42)).collect()}
    hits = sum(1 for q, n in brute.items() if approx.get(q) == n)
    assert hits / len(brute) >= 0.6, f"top-1 recall {hits}/{len(brute)}"


def test_corpus_top_ngrams_matches_python(spark, docs):
    """Corpus bigram counts vs a pure-python Counter over the same
    tokenization, including the deterministic (count desc, gram asc)
    tie-break at the k cut."""
    from collections import Counter

    from roll_spark.datapipe.text import corpus_top_ngrams

    rows = docs.select("text").collect()
    cnt = Counter()
    for r in rows:
        toks = r.text.split(" ")
        for i in range(len(toks) - 1):
            cnt[toks[i] + " " + toks[i + 1]] += 1
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.ngram, r.cnt) for r in
           corpus_top_ngrams(docs, "text", n=2, k=20).collect()]
    assert got == want


def test_corpus_top_ngrams_short_docs(spark):
    """Docs shorter than n tokens contribute nothing (no ANSI slice
    error), and trigram counting works."""
    import pandas as pd

    from roll_spark.datapipe.text import corpus_top_ngrams

    pdf = pd.DataFrame({"doc_id": [0, 1, 2, 3],
                        "text": ["a", "a b", "a b c a b c", ""]})
    df = spark.createDataFrame(pdf)
    out = {(r.ngram, r.cnt) for r in
           corpus_top_ngrams(df, "text", n=3, k=10).collect()}
    assert out == {("a b c", 2), ("b c a", 1), ("c a b", 1)}


def test_corpus_doc_freq_and_idf(spark, docs):
    """df counts = number of docs containing the token; smoothed idf
    formula checked against numpy."""
    import math

    from roll_spark.datapipe.text import corpus_doc_freq

    rows = docs.select("doc_id", "text").collect()
    n_docs = len(rows)
    df_py = {}
    for r in rows:
        for t in set(r.text.split(" ")):
            df_py[t] = df_py.get(t, 0) + 1
    out = corpus_doc_freq(docs, "text", "doc_id", min_df=2).collect()
    want = {t: d for t, d in df_py.items() if d >= 2}
    assert {r.token: r.df_docs for r in out} == want
    for r in out:
        assert abs(r.idf - (math.log((1 + n_docs) / (1 + r.df_docs)) + 1)) < 1e-12


def test_doc_tfidf_topk_matches_python(spark, docs):
    """Per-doc top-5 tf-idf vs a python replay using the same
    rounded-idf ranking key and (score desc, token asc) tie-break."""
    import math
    from collections import Counter

    from roll_spark.datapipe.text import doc_tfidf_topk

    rows = docs.select("doc_id", "text").collect()
    n_docs = len(rows)
    df_py: dict = {}
    toks_by_doc = {}
    for r in rows:
        toks = r.text.split(" ")
        toks_by_doc[r.doc_id] = toks
        for t in set(toks):
            df_py[t] = df_py.get(t, 0) + 1
    idf6 = {t: round(1e-7 + math.log((1 + n_docs) / (1 + d)) + 1, 6)
            for t, d in df_py.items()}
    want = {}
    for doc, toks in toks_by_doc.items():
        tf = Counter(toks)
        ranked = sorted(tf.items(), key=lambda kv: (-kv[1] * idf6[kv[0]], kv[0]))
        want[doc] = [(t, c, idx + 1) for idx, (t, c) in enumerate(ranked[:5])]
    got: dict = {}
    for r in doc_tfidf_topk(docs, "text", "doc_id", k=5).collect():
        got.setdefault(r.doc_id, []).append((r.token, r.tf, r.rnk))
    for doc in got:
        got[doc].sort(key=lambda x: x[2])
    assert got == want


def test_event_transitions_matches_python(spark):
    """Transition counts vs a python lag replay on a small stream with
    ties-free ordering."""
    import pandas as pd

    from roll_spark.plans.sessions import event_transitions

    pdf = pd.DataFrame({
        "user_id": [1, 1, 1, 1, 2, 2, 2],
        "ts": [1, 2, 3, 4, 1, 2, 3],
        "event_type": ["a", "b", "a", "a", "b", "b", "a"],
    })
    df = spark.createDataFrame(pdf)
    got = {(r.from_type, r.to_type): r.n_trans
           for r in event_transitions(df, "user_id", "ts", "event_type").collect()}
    assert got == {("a", "b"): 1, ("b", "a"): 2, ("a", "a"): 1, ("b", "b"): 1}


def test_cc_adversarial_chain_star_soak(spark):
    """Convergence-rate evidence for the O(log^2 n) claim: an
    adversarial chain (graph diameter = n, the failure mode of naive
    min-label propagation) + star + cliques mix must converge in
    O(log n) alternating-star rounds — asserted at 2*ceil(log2(n)) —
    with labels exactly equal to a union-find oracle."""
    import math

    import numpy as np
    import pandas as pd

    from roll_spark.datapipe.dedup import connected_components

    chain = np.arange(5_000)
    edges = [np.stack([chain[:-1], chain[1:]], 1)]
    leaves = np.arange(6_001, 8_001)
    edges.append(np.stack([np.full_like(leaves, 6_000), leaves], 1))
    base = 10_000
    for c in range(50):
        nodes = base + c * 10 + np.arange(10)
        ii, jj = np.triu_indices(10, 1)
        edges.append(np.stack([nodes[ii], nodes[jj]], 1))
    E = np.concatenate(edges)
    df = spark.createDataFrame(pd.DataFrame({"da": E[:, 0], "db": E[:, 1]}))

    stats = {}
    out = connected_components(df, stats=stats).toPandas()

    n_nodes = len(np.unique(E))
    assert stats["rounds"] <= 2 * math.ceil(math.log2(n_nodes)), stats

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in E:
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {x: find(x) for x in parent}
    got = dict(zip(out.doc_id, out.cluster_id))
    assert got == want


def test_ngram_jaccard_frac_cap_equals_absolute(spark, docs):
    """The data-driven stop-shingle cap (frac of corpus size) produces
    exactly the pairs of the equivalent absolute cap."""
    from roll_spark.datapipe.dedup import ngram_jaccard_pairs

    n_docs = docs.count()
    frac = 0.04
    absolute = int(frac * n_docs)  # the threshold frac*N resolves to
    a = {(r.da, r.db, round(r.jaccard, 9)) for r in ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.1,
        max_shingle_df=absolute).collect()}
    b = {(r.da, r.db, round(r.jaccard, 9)) for r in ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.1,
        max_shingle_df_frac=frac).collect()}
    assert a == b and len(a) > 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        ngram_jaccard_pairs(docs, "text", "doc_id",
                            max_shingle_df=5, max_shingle_df_frac=0.1)


class _FpHandle:
    """Stand-in for a cached fingerprint DataFrame."""

    def __init__(self, same=None, unpersist=None):
        self.same, self.unpersist_exc, self.unpersisted = same, unpersist, False

    def sameSemantics(self, other):
        if isinstance(self.same, Exception):
            raise self.same
        return self.same

    def unpersist(self):
        if self.unpersist_exc is not None:
            raise self.unpersist_exc
        self.unpersisted = True


def test_register_fp_cache_swallows_only_dead_session_unpersist(monkeypatch):
    """Only unpersist() on a stopped session (a Py4JError) is swallowed.
    A sameSemantics failure raises and leaves the old cache registered,
    so it is never left persisted and untracked."""
    from py4j.protocol import Py4JError

    from roll_spark.datapipe import dedup

    dead = _FpHandle(same=False, unpersist=Py4JError("stopped SparkContext"))
    monkeypatch.setattr(dedup, "_live_fp_cache", [dead])
    new = _FpHandle()
    dedup._register_fp_cache(new)
    assert dedup._live_fp_cache == [new]

    live = _FpHandle(same=False)
    dedup._register_fp_cache(live)
    assert new.unpersisted and dedup._live_fp_cache == [live]

    broken = _FpHandle(same=RuntimeError("plan comparison failed"))
    monkeypatch.setattr(dedup, "_live_fp_cache", [broken])
    with pytest.raises(RuntimeError, match="plan comparison failed"):
        dedup._register_fp_cache(_FpHandle())
    assert dedup._live_fp_cache == [broken] and not broken.unpersisted
