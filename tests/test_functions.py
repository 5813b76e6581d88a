"""Text / dedup / similarity / multimodal function kernels against
hand-computable expectations (numpy / python set algebra as the oracle)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F
from pyspark.sql.functions import col

from osmdatapy_spark.functions.dedup import (
    connected_components,
    exact_dedup,
    jaccard_candidate_pairs,
    jaccard_similarity,
    lsh_band_pairs,
    minhash_signature,
    simhash,
)
from osmdatapy_spark.functions.multimodal import (
    decode_binary_meta,
    extract_features,
    fake_decode_meta,
    fake_features,
    fake_resize,
    resize_binary,
    sample_frames,
)
from osmdatapy_spark.functions.similarity import (
    brute_force_topk,
    cosine,
    dot,
    embed_neardup_pairs,
    md5_planes,
)
from osmdatapy_spark.functions.text import (
    comparable_string,
    fingerprint,
    hash_bucket,
    langid,
    scrub_pii,
    token_count,
    tokens,
    word_shingles,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and the dog sat too"),
        (2, "the cat sat on the mat and the dog sat too"),  # exact dup of 1
        (3, "the cat sat on the red mat and the dog sat too"),  # near-dup
        (4, "der hund ist ein guter hund und das ist gut"),
        (5, "completely different words entirely unrelated content here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tokens_and_count(docs):
    out = docs.select("doc_id", token_count(col("text")).alias("n")).collect()
    counts = {r["doc_id"]: r["n"] for r in out}
    assert counts[1] == 11 and counts[5] == 8


def test_word_shingles_matches_python(docs):
    rows = docs.select("doc_id", "text", word_shingles(tokens(col("text")), 3).alias("s")).collect()
    for r in rows:
        toks = r["text"].split()
        expect = list(dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)))
        assert r["s"] == expect


def test_langid(docs):
    out = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", langid(tokens(col("text"))).alias("lang")).collect()}
    assert out[1] == "en"
    assert out[4] == "de"


def test_fingerprint_dups(docs):
    fp = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", fingerprint(col("text")).alias("fp")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_comparable_string(spark):
    df = spark.createDataFrame([("l'hôpital d'été",)], "s string")
    assert df.select(comparable_string(col("s")).alias("c")).first()["c"] == "LHÔPITAL DÉTÉ"


def _shingled(docs):
    return docs.select("doc_id", F.explode(word_shingles(tokens(col("text")), 3)).alias("s"))


def test_minhash_identical_signatures(docs):
    sig = minhash_signature(_shingled(docs), "doc_id", "s", num_perm=8)
    rows = {r["doc_id"]: [r[f"mh{i}"] for i in range(8)] for r in sig.collect()}
    assert rows[1] == rows[2]  # identical docs → identical signatures
    shared = sum(a == b for a, b in zip(rows[1], rows[3]))
    assert shared >= 4  # near-dup shares most minhashes
    assert rows[1] != rows[5]


def test_lsh_finds_near_dups(docs):
    sig = minhash_signature(_shingled(docs), "doc_id", "s", num_perm=8)
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_band_pairs(sig, "doc_id", num_perm=8, band_size=2).collect()}
    assert (1, 2) in pairs
    assert not any(5 in p for p in pairs)


def test_jaccard_candidates(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in jaccard_candidate_pairs(_shingled(docs), "doc_id", "s", max_doc_freq=4, min_shared=3).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(5 in p for p in pairs)


def _one_component(pairs, expected_ids):
    comp = connected_components(pairs)
    rows = comp.collect()
    assert {r["id"] for r in rows} == expected_ids
    assert {r["cluster"] for r in rows} == {min(expected_ids)}


def test_oversized_lsh_buckets_chunk_split_not_dropped(spark):
    # Degenerate all-duplicates corpus: every band bucket holds all 120 ids,
    # far above max_bucket=10.  Dropping the bucket (the pre-fix behavior)
    # yields ZERO candidates exactly where recall matters most; chunk-split
    # keeps the whole cluster one connected component with linear work.
    n = 120
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again") for i in range(1, n + 1)],
        "doc_id long, text string",
    )
    shingled = docs.select("doc_id", F.explode(word_shingles(tokens(col("text")), 3)).alias("s"))
    sig = minhash_signature(shingled, "doc_id", "s", num_perm=8)
    pairs = lsh_band_pairs(sig, "doc_id", num_perm=8, band_size=2, max_bucket=10)
    n_pairs = pairs.count()
    # linear bound: ~n·max_bucket/2 pairs, nowhere near C(120,2)=7140
    assert 0 < n_pairs < 1000
    _one_component(pairs, set(range(1, n + 1)))


def test_oversized_jaccard_postings_chunk_split(spark):
    # Identical docs → every shingle is a "stop shingle" above max_doc_freq.
    # Chunk windows are identical across shingles (same sorted posting), so
    # pair counts still reach min_shared and the cluster stays connected.
    n = 60
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(1, n + 1)],
        "doc_id long, text string",
    )
    shingled = docs.select("doc_id", F.explode(word_shingles(tokens(col("text")), 3)).alias("s"))
    pairs = jaccard_candidate_pairs(shingled, "doc_id", "s", max_doc_freq=8, min_shared=3)
    n_pairs = pairs.count()
    assert 0 < n_pairs < 400  # linear, not C(60,2)=1770
    _one_component(pairs, set(range(1, n + 1)))


def test_oversized_embed_buckets_chunk_split(spark):
    # 80 identical vectors land in one (band, bucket) for every band.
    vec = [1.0, -0.5, 0.25, 2.0, -1.0, 0.5, 1.5, -0.25]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(1, 81)], "vec_id long, embedding array<float>"
    )
    pairs = embed_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.9, planes_per_band=2, dim=8, max_bucket=10
    )
    rows = pairs.collect()
    assert 0 < len(rows) < 600
    assert all(r["cos"] == 1.0 for r in rows)
    _one_component(pairs.select("id_a", "id_b"), set(range(1, 81)))


def test_small_buckets_expand_completely(spark):
    # Below the cap the chunked expansion must equal the exhaustive one.
    docs = spark.createDataFrame(
        [(i, "one two three four five six") for i in range(1, 6)],
        "doc_id long, text string",
    )
    shingled = docs.select("doc_id", F.explode(word_shingles(tokens(col("text")), 3)).alias("s"))
    sig = minhash_signature(shingled, "doc_id", "s", num_perm=8)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_band_pairs(sig, "doc_id", num_perm=8, band_size=2, max_bucket=50).collect()
    }
    assert pairs == {(a, b) for a in range(1, 6) for b in range(a + 1, 6)}


def test_simhash_near_vs_far(docs):
    tokenized = docs.select("doc_id", F.explode(tokens(col("text"))).alias("t"))
    out = {r["doc_id"]: r["simhash"] for r in simhash(tokenized, "doc_id", "t", bits=16).collect()}
    assert out[1] == out[2]
    ham_near = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[5]).count("1")
    assert ham_near < ham_far


def test_exact_dedup_and_jaccard_similarity(docs):
    from osmdatapy_spark.functions.text import fingerprint as fp

    groups = exact_dedup(docs, "doc_id", fp(col("text")))
    rows = {r["keeper"]: r["n_dups"] for r in groups.collect()}
    assert rows[1] == 2  # docs 1+2 collapse
    assert rows[3] == 1

    df = docs.sparkSession.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"])], "sa array<string>, sb array<string>"
    )
    assert df.select(jaccard_similarity("sa", "sb").alias("j")).first()["j"] == 0.5


def test_dot_cosine_vs_numpy(spark):
    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(dot(col("a"), col("b")).alias("d"), cosine(col("a"), col("b")).alias("c")).first()
    expect_d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    assert abs(row["d"] - expect_d) < 1e-12
    assert abs(row["c"] - expect_d / (na * nb)) < 1e-12


def test_brute_force_topk(spark):
    vecs = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (4, [-1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = corpus.filter(col("vec_id") == 1)
    out = brute_force_topk(corpus, probes, k=2).collect()
    assert [r["nbr_id"] for r in sorted(out, key=lambda r: r["rank"])] == [2, 3]


def test_bpe_tokens(spark):
    from osmdatapy_spark.functions.text import bpe_tokens

    df = spark.createDataFrame([(1, "Don't count 123 tokens!")], "doc_id long, text string")
    got = df.select(bpe_tokens(col("text")).alias("t")).first()["t"]
    assert got == ["Don", "'t", " count", " 123", " tokens", "!"]


def test_scrub_pii_and_hash_bucket(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@corp.io or call +44 20 7946 0958 today")],
        "doc_id long, text string",
    )
    out = df.select(scrub_pii(col("text")).alias("s")).first()["s"]
    assert out == "mail me at <EMAIL> or call <PHONE> today"
    # deterministic and stable: same key -> same bucket, buckets in range
    b = (
        spark.range(200)
        .select(hash_bucket(col("id"), 10).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    assert {r["b"] for r in b} == set(range(10))


def test_connected_components(spark):
    # chain 1-2-3-4 (diameter 3 forces multiple propagation rounds),
    # clique 10-11-12, isolated edge 20-21
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_embed_neardup_pairs(spark):
    # 1&2 identical (cos=1.0) -> share every band bucket, must be found;
    # 3 orthogonal and 4 antipodal never pass the 0.4 threshold even if
    # they collide in some bucket.
    vecs = [
        (1, [1.0, 0.5, -0.3, 0.8]),
        (2, [1.0, 0.5, -0.3, 0.8]),
        (3, [-0.5, 1.0, 0.8, -0.2]),
        (4, [-1.0, -0.5, 0.3, -0.8]),
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = embed_neardup_pairs(corpus, threshold=0.4, planes_per_band=2, dim=4).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in out}
    assert pairs[(1, 2)] == 1.0
    assert all(c >= 0.4 for c in pairs.values())
    assert (3, 4) not in pairs and (1, 4) not in pairs and (2, 4) not in pairs


def test_md5_planes_deterministic():
    a = md5_planes(4, 8)
    b = md5_planes(4, 8)
    assert a == b
    assert all(-1.0 <= c < 1.0 for plane in a for c in plane)
    assert md5_planes(4, 8, seed=7) != a


def test_multimodal_decode(spark):
    payloads = [(1, b"hello"), (2, b"world!!"), (3, b"")]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_binary_meta(df).collect()}
    for did, payload in payloads:
        nb, w, h = fake_decode_meta(payload)
        assert (out[did]["n_bytes"], out[did]["fake_width"], out[did]["fake_height"]) == (nb, w, h)


def test_multimodal_features_resize_frames(spark):
    import hashlib

    payloads = [(1, b"a" * 40), (2, b"xyz")]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")

    feats = {r["doc_id"]: r for r in extract_features(df, dim=4).collect()}
    for did, payload in payloads:
        expect = fake_features(payload, 4)
        assert [feats[did][f"f{j}"] for j in range(4)] == expect
        assert all(0 <= v < 1 for v in expect)

    resized = {r["doc_id"]: r["resized"] for r in resize_binary(df, 8, 6).collect()}
    for did, payload in payloads:
        assert len(resized[did]) == 48
        assert bytes(resized[did]) == fake_resize(payload, 8, 6)

    # 40 bytes / frame_bytes=16 -> frames 0,1,2; every=2 keeps 0 and 2
    frames = [r for r in sample_frames(df, frame_bytes=16, every=2).collect() if r["doc_id"] == 1]
    assert [(r["frame_idx"], r["n_bytes"]) for r in sorted(frames, key=lambda r: r["frame_idx"])] == [(0, 16), (2, 8)]
    assert frames[0]["frame_md5"] == hashlib.md5(b"a" * 16).hexdigest()


def test_kmeans_ivf_recall_vs_brute_force(spark):
    """k-means IVF with n_probe=2 of 4 cells must recover a healthy share
    of the exact top-3 on clustered data — the recall assertion that keeps
    the quantizer honest (a broken assignment collapses recall to ~0)."""
    from osmdatapy_spark.functions.similarity import brute_force_topk, ivf_topk, kmeans_centroids

    # 4 well-separated direction clusters of 8 vectors each, deterministic
    base = [(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0), (-1.0, -1.0, 0.0)]
    vecs = []
    for ci, (x, y, z) in enumerate(base):
        for j in range(8):
            e = 0.01 * (j + 1)
            vecs.append((ci * 100 + j, [x + e, y + 2 * e, z - e]))
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = corpus.filter(col("vec_id") % 100 == 3)

    exact = brute_force_topk(corpus, probes, k=3)
    approx = ivf_topk(corpus, probes, k=3, n_cells=4, n_probe=2, iters=2)
    exact_set = {(r["probe_id"], r["nbr_id"]) for r in exact.collect()}
    approx_set = {(r["probe_id"], r["nbr_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.75, f"IVF recall {recall:.2f} too low"

    # centroids converge onto the 4 true cluster directions: every member
    # of a cluster lands in the same cell
    cents = kmeans_centroids(corpus, k=4, iters=3)
    assert len(cents) == 4 and all(len(c) == 3 for c in cents)


def test_ivfpq_recall_vs_brute_force(spark):
    """IVF-PQ composite (IVF pruning × PQ compressed scoring × exact
    re-rank) must recover a healthy share of the exact top-3 on clustered
    data — with a generous rerank budget relative to cell population, the
    exact re-rank stage repairs PQ's approximation inside the probed
    cells, so recall tracks the IVF cell assignment."""
    from osmdatapy_spark.functions.similarity import brute_force_topk, ivfpq_topk

    base = [(1.0, 0.0, 0.0, 0.5), (0.0, 1.0, 0.0, -0.5), (0.0, 0.0, 1.0, 0.25), (-1.0, -1.0, 0.0, 0.0)]
    vecs = []
    for ci, b in enumerate(base):
        for j in range(8):
            e = 0.01 * (j + 1)
            vecs.append((ci * 100 + j, [b[0] + e, b[1] + 2 * e, b[2] - e, b[3] + e]))
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = corpus.filter(col("vec_id") % 100 == 3)

    exact = brute_force_topk(corpus, probes, k=3)
    approx = ivfpq_topk(
        corpus, probes, dim=4, k=3, n_cells=4, n_probe=2,
        m_sub=2, k_cells=4, rerank=8, iters=2,
    )
    exact_set = {(r["probe_id"], r["nbr_id"]) for r in exact.collect()}
    approx_set = {(r["probe_id"], r["nbr_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.75, f"IVF-PQ recall {recall:.2f} too low"


def _mini_png(w, h):
    """A complete, spec-valid PNG built with stdlib only: signature, IHDR,
    one zlib IDAT of gray pixels, IEND — a real image file, not a stub."""
    import struct as _s
    import zlib as _z

    def chunk(typ, data):
        c = typ + data
        return _s.pack(">I", len(data)) + c + _s.pack(">I", _z.crc32(c) & 0xFFFFFFFF)

    ihdr = _s.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes([x % 256 for x in range(w)]) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_sniff_image_meta_real_headers():
    import struct as _s

    from osmdatapy_spark.functions.multimodal import real_decode_meta, sniff_image_meta

    png = _mini_png(320, 200)
    gif = b"GIF89a" + _s.pack("<HH", 640, 480) + b"\x00" * 6
    bmp = b"BM" + b"\x00" * 16 + _s.pack("<ii", 800, -600) + b"\x00" * 20
    jpg = (
        b"\xff\xd8"
        + b"\xff\xe0" + _s.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9   # APP0
        + b"\xff\xc0" + _s.pack(">H", 11) + b"\x08" + _s.pack(">HH", 1024, 768) + b"\x03"  # SOF0
    )
    assert sniff_image_meta(png) == ("png", 320, 200)
    assert sniff_image_meta(gif) == ("gif", 640, 480)
    assert sniff_image_meta(bmp) == ("bmp", 800, 600)   # top-down negative height
    assert sniff_image_meta(jpg) == ("jpeg", 768, 1024)  # SOF stores height first
    assert sniff_image_meta(b"not an image") is None
    assert real_decode_meta(png) == (len(png), 320, 200)
    with pytest.raises(NotImplementedError):
        real_decode_meta(b"not an image")


def test_real_decode_through_batch_plumbing(spark):
    """The REAL decoder rides the same mapInPandas plumbing as the stub —
    true dimensions come back through Spark for genuine image payloads."""
    from osmdatapy_spark.functions.multimodal import real_decode_meta

    rows = [(1, _mini_png(32, 16)), (2, _mini_png(300, 77))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in decode_binary_meta(df, decoder=real_decode_meta).collect()}
    assert (out[1]["fake_width"], out[1]["fake_height"]) == (32, 16)
    assert (out[2]["fake_width"], out[2]["fake_height"]) == (300, 77)
    assert out[2]["n_bytes"] == len(rows[1][1])


def test_pil_gated_pixel_decode_and_resize(spark):
    """Exercised only where Pillow exists (import-gated); the header-sniff
    fallback above covers the no-PIL deployment this container runs."""
    from osmdatapy_spark.functions.multimodal import (
        HAS_PIL,
        real_decode_meta,
        real_resize,
        resize_binary,
    )

    if not HAS_PIL:
        pytest.skip("Pillow not installed — gated real-pixel path")
    png = _mini_png(40, 20)
    assert real_decode_meta(png)[1:] == (40, 20)
    small = real_resize(png, 10, 5)
    assert real_decode_meta(small)[1:] == (10, 5)
    df = spark.createDataFrame([(1, png)], "doc_id long, payload binary")
    got = resize_binary(df, 10, 5, resizer=real_resize).first()["resized"]
    assert real_decode_meta(bytes(got))[1:] == (10, 5)


def _py_winnow(text: str, k: int = 8, w: int = 4) -> list[int]:
    import hashlib

    if len(text) < k:
        return []
    hs = [
        int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(len(text) - k + 1)
    ]
    if len(hs) < w:
        return []
    return sorted({min(hs[i : i + w]) for i in range(len(hs) - w + 1)})


def test_winnow_fingerprints_match_python(spark):
    from osmdatapy_spark.functions.text import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "short"),  # < k chars → empty
        (3, "abcdefgh"),  # exactly k chars → 1 gram, < w windows → empty
        (4, "aaaaaaaaaaaaaaaaaaaa"),  # degenerate: all grams identical
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", winnow_fingerprints(col("text")).alias("f")).collect()
    }
    for i, text in rows:
        assert out[i] == _py_winnow(text), f"doc {i}"


def test_winnow_shared_substring_guarantee(spark):
    """Any substring match of length >= k + w - 1 (= 11) must yield at
    least one shared fingerprint — the winnowing paper's core guarantee."""
    from osmdatapy_spark.functions.text import winnow_fingerprints

    shared = "COMMONSUBSTRING"  # 15 chars >= 11
    rows = [
        (1, "xxxxxxxx " + shared + " yyyyyyyyyy"),
        (2, "qqqqqqqqqq " + shared + " zzzzzz"),
        (3, "0123456789 totally disjoint alphabet 9876543210"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {
        r["doc_id"]: set(r["f"])
        for r in df.select("doc_id", winnow_fingerprints(col("text")).alias("f")).collect()
    }
    assert fp[1] & fp[2], "docs sharing an 15-char substring must share a fingerprint"
    assert not (fp[1] & fp[3])


def test_word_ngrams_keeps_duplicates(spark):
    from osmdatapy_spark.functions.text import word_ngrams

    df = spark.createDataFrame([("a b a b a",)], "text string")
    out = df.select(word_ngrams(tokens(col("text")), 2).alias("g")).first()["g"]
    assert out == ["a b", "b a", "a b", "b a"]  # duplicates preserved, in order


def test_repetition_fraction_hand_check(spark):
    from osmdatapy_spark.functions.text import word_ngrams

    df = spark.createDataFrame([("spam spam spam spam ham",)], "text string")
    g = word_ngrams(tokens(col("text")), 2)
    row = df.select(
        F.size(g).alias("n"),
        (F.size(g) - F.size(F.array_distinct(g))).alias("dups"),
    ).first()
    # 2-grams: [spam spam, spam spam, spam spam, spam ham] → 4 total, 2 dups
    assert row["n"] == 4 and row["dups"] == 2


# --- round-2 additions: packing / diversity / dedup pipeline ---------------

SF1 = "/root/testdata/sf0.001"


def test_sequence_pack_invariants(spark):
    from osmdatapy_spark.suite import QUERY_REGISTRY

    rows = QUERY_REGISTRY["llm_sequence_pack"].fn(spark, SF1).collect()
    assert rows
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r["doc_id"])
        # prefix-sum discipline: offsets are the running token total per shard
        run = 0
        for r in members:
            assert r["start_offset"] == run
            assert r["seq_id"] == shard * 1_000_000 + r["start_offset"] // 256
            assert 0 <= r["seq_offset"] < 256
            run += r["n_tokens"]


def test_char_diversity_matches_python(spark):
    from collections import Counter

    from osmdatapy_spark.suite import QUERY_REGISTRY
    from osmdatapy_spark.tables import load_table

    got = {
        r["doc_id"]: r
        for r in QUERY_REGISTRY["llm_char_diversity"].fn(spark, SF1).collect()
    }
    for row in load_table(spark, SF1, "documents").limit(20).collect():
        c = Counter(row["text"])
        n = sum(c.values())
        want = sum(k * (k - 1) for k in c.values()) / (n * (n - 1))
        r = got[row["doc_id"]]
        assert r["n_chars_total"] == n
        assert r["n_distinct_chars"] == len(c)
        assert r["collision_prob"] == pytest.approx(want, abs=0)


def test_dedup_pipeline_consistent_with_clusters(spark):
    from osmdatapy_spark.suite import QUERY_REGISTRY
    from osmdatapy_spark.tables import load_table

    clusters = QUERY_REGISTRY["llm_dedup_clusters"].fn(spark, SF1).collect()
    pipeline = QUERY_REGISTRY["llm_dedup_pipeline"].fn(spark, SF1).collect()
    sizes = {}
    members = {}
    for r in clusters:
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
        members.setdefault(r["cluster"], set()).add(r["doc_id"])
    assert {r["cluster"]: r["n_members"] for r in pipeline} == sizes
    n_docs = load_table(spark, SF1, "documents").count()
    assert sum(r["n_members"] for r in pipeline) == n_docs
    for r in pipeline:
        assert r["keeper"] in members[r["cluster"]]


def test_bucket_cap_of_one_rejected():
    from osmdatapy_spark.functions.dedup import _bucket_pairs

    with pytest.raises(ValueError, match="max_bucket"):
        _bucket_pairs(None, max_bucket=1)


def test_kmeans_corpus_smaller_than_k(spark):
    """Fewer vectors than cells must degrade to a working quantizer, not
    crash the centroid update."""
    from osmdatapy_spark.functions.similarity import ivf_topk, kmeans_centroids

    tiny = spark.createDataFrame(
        [(i, [float(i), float(-i)]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(tiny, "vec_id", "embedding", k=8, iters=1)
    assert len(cents) == 3
    out = ivf_topk(tiny, tiny, "vec_id", "embedding", k=2, n_cells=8, n_probe=2)
    assert out.count() > 0


def test_wkb_without_geometry_rejected(spark):
    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query

    elements = spark.createDataFrame(
        [(1, 1, {"highway": "residential"})],
        "osmid long, osmtype tinyint, tags map<string,string>",
    )
    nodes = spark.createDataFrame([(1, 0.0, 0.0)], "osmid long, lon double, lat double")
    osm = OSM.from_tables(elements, nodes)
    with pytest.raises(ValueError, match="geometry"):
        osm.query(Query(ways=True), wkb=True)


def test_expand_members_without_rel_members_rejected(spark):
    from osmdatapy_spark.engine import OSM

    elements = spark.createDataFrame(
        [(1, 0, {})], "osmid long, osmtype tinyint, tags map<string,string>"
    )
    nodes = spark.createDataFrame([(1, 0.0, 0.0)], "osmid long, lon double, lat double")
    with pytest.raises(ValueError, match="rel_members"):
        OSM.from_tables(elements, nodes).expand_members()


def test_char_semantics_match_duckdb_on_non_ascii(spark):
    """Oracles must use CHAR semantics (length), not BYTE semantics
    (strlen): pin Spark-vs-DuckDB equality of the winnowing gram count and
    the char histogram on accented/CJK/emoji text."""
    import duckdb

    texts = ["café au lait", "naïve résumé", "日本語のテキストです", "emoji 🚀 test", "plain ascii"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    from osmdatapy_spark.functions.text import with_winnow_fingerprints

    got = {
        r["doc_id"]: (r["n_grams"], sorted(r["fp"]))
        for r in with_winnow_fingerprints(df, "text", "fp")
        .select(
            "doc_id",
            F.greatest(F.length(col("text")) - F.lit(7), F.lit(0)).cast("long").alias("n_grams"),
            "fp",
        )
        .collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(texts)))
    rows = con.execute(
        """
        WITH g AS (
          SELECT doc_id,
                 list_transform(generate_series(1, greatest(length(text) - 7, 0)),
                                i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 8)) AS BIGINT)) AS h
          FROM d
        )
        SELECT doc_id, CAST(len(h) AS BIGINT) AS n_grams,
               list_sort(list_distinct(list_transform(generate_series(1, greatest(len(h) - 3, 0)),
                              i -> least(h[i], h[i+1], h[i+2], h[i+3])))) AS f
        FROM g
        """
    ).fetchall()
    want = {r[0]: (r[1], sorted(r[2])) for r in rows}
    assert got == want


def test_write_corpus_partitioned_layout(spark, tmp_path):
    """Partitioned sink: directory-level lang partitions exist, rows round-trip,
    and a lang filter prunes at the listing level (partition filter, no
    pushed data filter needed)."""
    import os

    from osmdatapy_spark.sinks import read_corpus, write_corpus
    from osmdatapy_spark.tables import load_table

    docs = load_table(spark, SF1, "documents")
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=["lang"], max_records_per_file=50)

    langs = {d.split("=")[1] for d in os.listdir(out) if d.startswith("lang=")}
    assert langs == {r["lang"] for r in docs.select("lang").distinct().collect()}

    back = read_corpus(spark, out)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)

    # partition pruning: the lang predicate must become a PARTITION filter
    # (listing-level pruning), not a post-scan data filter
    one = back.filter(F.col("lang") == sorted(langs)[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
    assert one.count() == docs.filter(F.col("lang") == sorted(langs)[0]).count()


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """E[agree/k] = J: with k=8 the per-pair sd is ~0.17, so on the
    near-dup pairs (J >= 0.5) the mean absolute estimation error must stay
    well under one sd."""
    from osmdatapy_spark.suite import QUERY_REGISTRY

    exact = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in QUERY_REGISTRY["llm_jaccard_pairs"].fn(spark, SF1).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in QUERY_REGISTRY["llm_minhash_estimate"].fn(spark, SF1).collect()
    }
    common = set(exact) & set(est)
    assert common, "no overlapping pairs between exact and estimated"
    mae = sum(abs(exact[p] - est[p]) for p in common) / len(common)
    assert mae < 0.17, f"mean |est - exact| = {mae:.3f} over {len(common)} pairs"


def test_pq_topk_recall_and_compression(spark):
    """PQ asymmetric-distance search with exact re-rank recovers most of
    the exact top-3, and the code representation is m_sub small ints."""
    from osmdatapy_spark.functions.similarity import (
        brute_force_topk,
        as_double_sql,
        pq_codebooks,
        pq_codes_sql,
        pq_topk,
    )
    from pyspark.sql import functions as F

    # 4 direction clusters in 8-dim, subspace-aligned structure
    base = [
        [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0],
    ]
    vecs = []
    for ci, b in enumerate(base):
        for j in range(8):
            e = 0.01 * (j + 1)
            vecs.append((ci * 100 + j, [x + e * (i % 3) for i, x in enumerate(b)]))
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = corpus.filter(col("vec_id") % 100 == 3)

    books = pq_codebooks(corpus, dim=8, m_sub=2, k_cells=4, iters=2)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    assert all(len(c) == 4 for b in books for c in b)

    codes = corpus.select(
        F.expr(pq_codes_sql(as_double_sql("embedding"), books, 8)).alias("c")
    ).collect()
    assert all(len(r["c"]) == 2 for r in codes)
    assert all(0 <= v <= 3 for r in codes for v in r["c"])

    exact = brute_force_topk(corpus, probes, k=3)
    approx = pq_topk(corpus, probes, dim=8, k=3, m_sub=2, k_cells=4, rerank=8, iters=2)
    exact_set = {(r["probe_id"], r["nbr_id"]) for r in exact.collect()}
    approx_set = {(r["probe_id"], r["nbr_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.75, f"PQ recall {recall:.2f} too low"


def test_pq_adist_orders_like_true_distance(spark):
    """ADC approximate distances must rank a same-cluster neighbor ahead of
    a far cluster (the property that makes stage-1 pruning safe)."""
    from osmdatapy_spark.functions.similarity import pq_topk

    vecs = [
        (1, [1.0, 1.0, 0.0, 0.0]),
        (2, [1.1, 0.9, 0.0, 0.0]),   # near 1
        (3, [0.0, 0.0, 1.0, 1.0]),   # far from 1
        (4, [0.0, 0.1, 1.1, 0.9]),   # near 3
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    probes = corpus.filter(col("vec_id") == 1)
    out = pq_topk(corpus, probes, dim=4, k=3, m_sub=2, k_cells=2, rerank=3, iters=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["nbr_id"] == 2


def test_vocab_tokenize_greedy_longest_match(spark):
    """Greedy longest-match semantics, hand-checked: prefixes lose to
    longer tokens, unmatched chars fall back to singles, counts fold
    per document."""
    from osmdatapy_spark.functions.text import vocab_tokenize_counts

    docs = spark.createDataFrame(
        [(1, "spark table sparta"), (2, "aggscanagg"), (3, "zz")],
        "doc_id long, text string",
    )
    vocab = ["spark", "spa", "scan", "table", "ta", "agg"]
    out = {
        (r["doc_id"], r["token"]): r["n"]
        for r in vocab_tokenize_counts(docs, vocab).collect()
    }
    # doc 1: "spark" (not spa+rk), " ", "table" (not ta+ble), " ", "spa", "r", "ta"
    assert out[(1, "spark")] == 1
    assert out[(1, "table")] == 1
    assert out[(1, "spa")] == 1
    assert out[(1, "ta")] == 1
    assert out[(1, "r")] == 1
    assert out[(1, " ")] == 2
    assert sum(n for (d, _), n in out.items() if d == 1) == 7
    # doc 2: agg, scan, agg — counts fold inside the kernel
    assert out[(2, "agg")] == 2 and out[(2, "scan")] == 1
    # doc 3: pure fallback
    assert out[(3, "z")] == 2


def test_vocab_tokenize_roundtrip_reconstruction(spark):
    """Token multiset × lengths reconstructs exactly the original character
    count for every doc — no char is dropped or double-consumed by the
    sequential scan (the invariant that survives any vocab)."""
    from osmdatapy_spark.functions.text import TOKENIZER_VOCAB, vocab_tokenize_counts
    from osmdatapy_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    toks = vocab_tokenize_counts(docs, TOKENIZER_VOCAB)
    got = (
        toks.groupBy("doc_id")
        .agg(F.sum(F.length("token") * col("n")).alias("chars"))
    )
    exp = docs.select("doc_id", F.length("text").alias("expected"))
    bad = got.join(exp, "doc_id").filter(col("chars") != col("expected")).count()
    assert bad == 0
    assert got.count() == docs.count()


def test_hll_estimate_accuracy(spark):
    """The exactly-built HLL registers must also ESTIMATE well: the raw
    harmonic estimate at m=256 has rsd ~1.04/sqrt(256) = 6.5%; assert
    within 3 rsd of the true distinct count."""
    from pyspark.sql import functions as F

    from osmdatapy_spark.suite.core import rel_hll_registers
    from osmdatapy_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    est = rel_hll_registers(spark, sf).select("raw_estimate").first()[0]
    true = (
        load_table(spark, sf, "orders").select("o_custkey").distinct().count()
    )
    assert abs(est - true) / true < 3 * 1.04 / (256 ** 0.5), (est, true)


def test_bloom_filter_membership_and_fpr(spark):
    """The exactly-built Bloom words must behave like a Bloom filter: zero
    false negatives on members, and a false-positive rate on
    known-non-members near the theoretical (1 - e^(-kn/m))^k."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql.functions import col, lit

    from osmdatapy_spark.suite.core import _BLOOM_BITS, _BLOOM_K, rel_bloom_filter
    from osmdatapy_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    words = {r["word"]: r["bits"] for r in rel_bloom_filter(spark, sf).collect()}

    def contains(k: int) -> bool:
        import hashlib

        md5 = hashlib.md5(str(k).encode()).hexdigest()
        for i in range(_BLOOM_K):
            p = int(md5[8 * i : 8 * i + 8], 16) % _BLOOM_BITS
            if not (words.get(p // 32, 0) >> (p % 32)) & 1:
                return False
        return True

    members = [
        r["o_custkey"]
        for r in load_table(spark, sf, "orders").select("o_custkey").distinct().collect()
    ]
    assert all(contains(k) for k in members)  # no false negatives, ever

    non_members = [k for k in range(10_000_000, 10_002_000)]
    fp = sum(contains(k) for k in non_members) / len(non_members)
    n, m, k = len(members), _BLOOM_BITS, _BLOOM_K
    theo = (1 - math.exp(-k * n / m)) ** k
    assert fp < min(1.0, 2.5 * theo + 0.02), (fp, theo)


def test_hll_registers_merge_across_epochs(spark):
    """Mergeability — THE reason sketches exist: building registers on two
    disjoint epochs and max-merging them must equal the full-corpus build
    bit-for-bit (max is associative/commutative; same for Bloom's OR)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from osmdatapy_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    o = load_table(spark, sf, "orders")

    def registers(df):
        hv = F.conv(
            F.substring(F.md5(col("o_custkey").cast("string")), 1, 15), 16, 10
        ).cast("long")
        parts = df.select((hv % 256).alias("bucket"), hv.alias("hv")).select(
            "bucket", F.expr("hv div 256").alias("w")
        )
        r = F.when(col("w") == 0, F.lit(53)).otherwise(
            F.instr(F.lpad(F.bin(col("w")), 52, "0"), "1")
        )
        return (
            parts.select("bucket", r.alias("r"))
            .groupBy("bucket")
            .agg(F.max("r").alias("register"))
        )

    full = {r["bucket"]: r["register"] for r in registers(o).collect()}
    e1 = registers(o.filter(col("o_orderkey") % 2 == 0))
    e2 = registers(o.filter(col("o_orderkey") % 2 == 1))
    merged = {
        r["bucket"]: r["register"]
        for r in e1.unionByName(e2).groupBy("bucket").agg(F.max("register").alias("register")).collect()
    }
    assert merged == full


def test_bucket_pairs_spread_pair_set_identity(spark):
    """spread=True (chunk-window redistribution before expansion) must
    emit EXACTLY the stride formula's pair set — windows overlap by one
    element and expand fully, proven disjoint — across bucket sizes
    around the chunk boundaries (n = m-1, m, m+1, 2m-2, 2m-1, ...)."""
    from osmdatapy_spark.functions.dedup import _bucket_pairs

    m = 5
    for n in (2, 3, m - 1, m, m + 1, 2 * m - 2, 2 * m - 1, 2 * m, 17):
        ids = sorted({(i * 37) % 1000 for i in range(n)})
        buckets = spark.createDataFrame([(ids,)], "ids array<long>")
        base = {
            (r["id_a"], r["id_b"])
            for r in _bucket_pairs(buckets, max_bucket=m).collect()
        }
        spread = {
            (r["id_a"], r["id_b"])
            for r in _bucket_pairs(buckets, max_bucket=m, spread=True).collect()
        }
        assert spread == base, f"n={len(ids)}"
        # every consecutive pair present -> bucket stays one component
        assert all((ids[i], ids[i + 1]) in base for i in range(len(ids) - 1))


# ---------------------------------------------------------------------------
# BPE trainer merge fold
# ---------------------------------------------------------------------------


def _bpe_merge_py(syms, left, right):
    """Reference greedy left-to-right non-overlapping merge."""
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_bpe_merge_fold_matches_reference(spark):
    from pyspark.sql import functions as F

    from osmdatapy_spark.suite.llm import _bpe_merge_apply

    cases = [
        (["a", "b", "c"], "a", "b"),
        (["a", "a", "a"], "a", "a"),            # odd run pairs from the left
        (["a", "a", "a", "a"], "a", "a"),       # even run pairs fully
        (["b", "a", "a", "a", "a", "a"], "a", "a"),
        (["a", "b", "b"], "a", "b"),            # merged symbol must not re-pair
        (["a", "b", "a", "b", "a"], "a", "b"),
        (["x"], "a", "b"),
        (["ab", "ab", "c"], "ab", "ab"),        # multi-char symbols
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _, _) in enumerate(cases)], "i long, s array<string>"
    )
    for i, (syms, left, right) in enumerate(cases):
        got = (
            df.filter(F.col("i") == i)
            .select(_bpe_merge_apply(F.col("s"), left, right).alias("m"))
            .collect()[0]["m"]
        )
        assert list(got) == _bpe_merge_py(syms, left, right), (syms, left, right)


def test_bpe_train_rounds_apply_merges(spark):
    """The trainer's successive merges must be distinct (a merge, once
    applied, consumes its pair occurrences and cannot win again)."""
    from osmdatapy_spark.suite.registry import QUERY_REGISTRY

    rows = QUERY_REGISTRY["llm_bpe_train"].fn(spark, SF1).collect()
    assert [r["merge_round"] for r in rows] == [1, 2, 3]
    pairs = [(r["left_sym"], r["right_sym"]) for r in rows]
    assert len(set(pairs)) == 3  # a merge, once applied, cannot win again
