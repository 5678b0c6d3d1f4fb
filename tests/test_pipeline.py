"""Unit tests for the training-data pipeline ops (crawler_spark.pipeline)
against pure-Python oracles — independent reimplementations of the same
published algorithms (MinHash: Broder 1997; SimHash: Charikar 2002), not
ports of any engine.

The driver harness already cross-checks these ops against DuckDB SQL at
sf0.01; these tests pin the *algorithmic* semantics on adversarial inputs
(identical docs, disjoint docs, short docs, empty text) where the oracle
can be computed by hand.
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.pipeline import dedup as dd
from crawler_spark.pipeline import similarity as sim
from crawler_spark.pipeline import textstats as ts

# ---------------------------------------------------------------------------
# pure-Python oracles
# ---------------------------------------------------------------------------


def py_md5h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def py_shingles(text: str, n: int) -> set[str]:
    toks = text.lower().split()
    if n == 1:
        return set(toks)
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def py_minhash(text: str, k: int, seed: int, ngram: int) -> list[int] | None:
    sh = py_shingles(text, ngram)
    if not sh:
        return None  # no shingle rows → doc absent from the signature table
    hs = [py_md5h60(s) for s in sh]
    return [
        min((a * h + b) % dd._MERSENNE_P for h in hs)
        for a, b in dd._perm_params(k, seed)
    ]


def py_simhash(text: str, bits: int, ngram: int) -> int | None:
    sh = py_shingles(text, ngram)
    if not sh:
        return None
    out = 0
    for j in range(bits):
        vote = sum(1 if (py_md5h60(s) >> j) & 1 else -1 for s in sh)
        if vote > 0:
            out |= 1 << j
    return out


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "completely different words appear here entirely unrelated tokens"),
    (4, "short"),  # fewer tokens than the 2-gram window
    (5, ""),  # empty text
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def test_minhash_matches_python_oracle(docs_df):
    k, seed = 8, 7
    got = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(k)]
        for r in dd.minhash_signatures(docs_df, "doc_id", "text", k, 2, seed).collect()
    }
    for doc_id, text in DOCS:
        want = py_minhash(text, k, seed, 2)
        if want is None:
            assert doc_id not in got
        else:
            assert got[doc_id] == want, f"doc {doc_id}"


def test_minhash_identical_docs_identical_sigs(docs_df):
    sigs = dd.minhash_signatures(docs_df, "doc_id", "text", 8, 2)
    rows = {r["doc_id"]: tuple(r)[1:] for r in sigs.collect()}
    assert rows[0] == rows[2]
    assert rows[0] != rows[3]


def test_lsh_candidates_contain_exact_dup_pair(docs_df):
    sigs = dd.minhash_signatures(docs_df, "doc_id", "text", 8, 2)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(sigs, "doc_id", 8, 4).collect()
    }
    assert (0, 2) in pairs  # identical docs share every band
    # estimated jaccard of the exact-dup pair is 1.0
    est = dd.minhash_similarity(
        sigs, docs_df.sparkSession.createDataFrame([(0, 2)], ["id_a", "id_b"]), 8
    ).collect()[0]["est_jaccard"]
    assert est == 1.0


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def test_simhash_matches_python_oracle(docs_df):
    bits = 16
    got = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs_df, "doc_id", "text", bits, 1).collect()}
    for doc_id, text in DOCS:
        want = py_simhash(text, bits, 1)
        if want is None:
            assert doc_id not in got
        else:
            assert got[doc_id] == want, f"doc {doc_id}"


def test_simhash_near_dups_finds_neighbour_not_unrelated(docs_df, spark):
    sh = dd.simhash(docs_df, "doc_id", "text", 32, 1)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dd.simhash_near_dups(sh, "doc_id", max_hamming=8, bits=32, blocks=16).collect()
    }
    assert (0, 2) in pairs  # identical → hamming 0
    assert (0, 3) not in pairs  # unrelated text


# ---------------------------------------------------------------------------
# exact dedup + n-gram Jaccard
# ---------------------------------------------------------------------------


def test_exact_dedup_keep_first(docs_df):
    kept = sorted(
        r["doc_id"]
        for r in dd.exact_dedup_keep_first(
            docs_df, "doc_id", ts.fingerprint_expr(F.col("text"))
        ).collect()
    )
    assert kept == [0, 1, 3, 4, 5]  # doc 2 deduped against doc 0


def test_ngram_jaccard_matches_python(docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(
            docs_df, "doc_id", "text", ngram=2, min_jaccard=0.0, min_common=1
        ).collect()
    }
    sets = {i: py_shingles(t, 2) for i, t in DOCS}
    for (a, b), j in got.items():
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert inter >= 1
        assert j == round(inter / union, 6), (a, b)
    assert (0, 2) in got and got[(0, 2)] == 1.0


def test_ngram_jaccard_df_cap_matches_python(docs_df):
    """df_cap drops shingles present in > cap docs BEFORE the self-join;
    set sizes use the same capped universe (internally consistent Jaccard
    over discriminative shingles)."""
    cap = 2
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
        for r in dd.ngram_jaccard_pairs(
            docs_df, "doc_id", "text", ngram=2, min_jaccard=0.0, min_common=1, df_cap=cap
        ).collect()
    }
    sets = {i: py_shingles(t, 2) for i, t in DOCS}
    from collections import Counter

    dfreq = Counter(s for sh in sets.values() for s in sh)
    capped = {i: {s for s in sh if dfreq[s] <= cap} for i, sh in sets.items()}
    expect = {}
    for a in sorted(capped):
        for b in sorted(capped):
            if a < b:
                inter = len(capped[a] & capped[b])
                if inter >= 1:
                    union = len(capped[a] | capped[b])
                    expect[(a, b)] = (inter, round(inter / union, 6))
    assert got == expect
    # the 3-way dup family {0,1,2} shares shingles with df=3 > cap, which
    # must NOT count toward overlap; exact dups 0/2 still pair via their
    # one df=2 shingle ("lazy dog"); doc 1 pairs with nobody ("lazy cat")
    assert got[(0, 2)] == (1, 1.0)
    assert not any(1 in pair for pair in got)


# ---------------------------------------------------------------------------
# text stats
# ---------------------------------------------------------------------------


def test_textstats_oracle(spark):
    rows = [
        (0, "The quick brown fox and the lazy dog"),  # english stopwords
        (1, "zzz qqq xxx"),  # no stopwords of any language
        (2, "  spaced   out  tokens  "),
        (3, "der hund und die katze ist nicht hier"),  # german
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            ts.token_count_expr(F.col("text")).alias("n_tok"),
            ts.lang_id_expr(F.col("text")).alias("lang"),
            ts.fingerprint_expr(F.col("text")).alias("fp"),
            ts.subword_count_expr(F.col("text")).alias("n_sub"),
        ).collect()
    }
    for doc_id, text in rows:
        assert out[doc_id]["n_tok"] == len(text.lower().split())
        norm = " ".join(text.lower().split())
        assert out[doc_id]["fp"] == hashlib.md5(norm.encode()).hexdigest()
    assert out[0]["lang"] == "en"
    assert out[1]["lang"] == "und"
    assert out[3]["lang"] == "de"
    # subword count: at least one piece per whitespace token, none empty
    assert out[0]["n_sub"] >= out[0]["n_tok"]


def test_rolling_fingerprints(spark):
    """Pin the rolling-hash fingerprint semantics: a Python re-derivation is
    the oracle (same md5-token-value Karp–Rabin fold); order sensitivity and
    winnowing boilerplate-robustness are the behavioural contracts."""
    base = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, base),
        (1, "zeta epsilon delta gamma beta alpha"),  # same bag, reordered
        (2, "COOKIE BANNER " + base),  # boilerplate prefix
        (3, "one two"),  # < k tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            ts.rolling_fingerprint_expr(F.col("text")).alias("roll"),
            ts.kgram_min_fingerprint_expr(F.col("text"), k=3).alias("kmin"),
        ).collect()
    }

    def val(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % ts.ROLL_MOD

    def roll(toks: list[str]) -> int:
        acc = 0
        for t in toks:
            acc = (acc * ts.ROLL_BASE + val(t)) % ts.ROLL_MOD
        return acc

    for doc_id, text in rows:
        toks = text.lower().split()
        assert out[doc_id]["roll"] == roll(toks)
        want_kmin = (
            min(roll(toks[i : i + 3]) for i in range(len(toks) - 2))
            if len(toks) >= 3
            else -1
        )
        assert out[doc_id]["kmin"] == want_kmin
    assert out[0]["roll"] != out[1]["roll"]  # order-sensitive
    assert out[0]["kmin"] == out[2]["kmin"]  # interior 3-grams survive prefix
    assert out[3]["kmin"] == -1


def test_quality_features_bounds(spark):
    df = spark.createDataFrame(
        [(0, "the and of to in is that it for a " * 10)], ["doc_id", "text"]
    )
    feats = ts.quality_features(F.col("text"))
    r = df.select(*[v.alias(k) for k, v in feats.items()]).collect()[0]
    assert r["n_tokens"] == 100
    assert r["stopword_ratio"] == 1.0  # all stopwords
    assert r["uniq_ratio"] == pytest.approx(0.1)
    assert 0.0 <= r["quality_score"] <= 1.0


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)], ["vec_id", "embedding"]
    )
    queries = df.filter(F.col("vec_id") < 3)
    got = {}
    for r in sim.cosine_topk(df, queries, k=5).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    v64 = vecs.astype(np.float64)
    norms = np.linalg.norm(v64, axis=1)
    for q in range(3):
        cos = (v64 @ v64[q]) / (norms * norms[q])
        order = sorted(
            ((round(cos[i], 6), i) for i in range(40) if i != q),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        want = [(rank + 1, i, c) for rank, (c, i) in enumerate(order)]
        got_q = sorted(got[q])
        assert [(rk, i) for rk, i, _ in got_q] == [(rk, i) for rk, i, _ in want]
        for (_, _, gc), (_, _, wc) in zip(got_q, want):
            assert gc == pytest.approx(wc, abs=2e-6)


def test_lsh_bucketed_topk_high_recall_vs_exact(spark):
    # planted structure: each query has 3 noisy copies of itself (cosine
    # ≈0.999) — the regime LSH is FOR. On isotropic random data near
    # neighbours aren't near and bucket recall is legitimately low.
    rng = np.random.default_rng(5)
    base = rng.normal(size=(5, 8))
    rows, vid = [], 0
    for b in base:
        for _ in range(4):  # original + 3 near-copies
            v = b + rng.normal(scale=0.01, size=8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(80):  # background noise vectors
        rows.append((vid, [float(x) for x in rng.normal(size=8)]))
        vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") % 4 == 0).filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(df, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.lsh_bucketed_topk(df, queries, k=3, n_planes=4).collect()
    }
    # near-copies of a query land in its bucket almost surely
    assert len(exact & approx) >= int(0.8 * len(exact))


def test_ivf_topk_high_recall_vs_exact(spark):
    # same planted-near-copies regime as the LSH test: IVF recall on
    # isotropic noise is meaningless, on real clusters it's the point.
    rng = np.random.default_rng(7)
    base = rng.normal(size=(5, 8))
    rows, vid = [], 0
    for b in base:
        for _ in range(4):
            v = b + rng.normal(scale=0.01, size=8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(80):
        rows.append((vid, [float(x) for x in rng.normal(size=8)]))
        vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") % 4 == 0).filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(df, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(df, queries, k=3, n_centroids=8, nprobe=3).collect()
    }
    assert len(exact & approx) >= int(0.8 * len(exact))


def test_ivf_assignment_matches_numpy_and_lloyd_refines(spark):
    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(60, 6)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)], ["vec_id", "embedding"]
    )

    def np_assign(v, cents):
        scores = [
            (round(float(v @ c) / (np.linalg.norm(c) or 1.0), 6), cid)
            for cid, c in enumerate(cents)
        ]
        return min(scores, key=lambda t: (-t[0], t[1]))[1]

    # 0 iterations: centroids are the 8 smallest-id vectors, assignment is
    # argmax rounded dot/|c| with ties to the smaller cid
    cents0 = sim.ivf_centroids(df, n_centroids=8, n_iters=0)
    assert np.allclose(np.array(cents0), vecs[:8])
    got = {
        r["neighbor_id"]: r["cid"]
        for r in df.select(
            F.col("vec_id").alias("neighbor_id"),
            sim.ivf_probe_expr(F.col("embedding"), cents0, 1)[0].alias("cid"),
        ).collect()
    }
    for i in range(60):
        assert got[i] == np_assign(vecs[i], [np.array(c) for c in cents0]), i

    # 1 Lloyd round: Spark's refined centroids == numpy's (mean of members,
    # empty cluster keeps its previous centroid)
    cents1 = sim.ivf_centroids(df, n_centroids=8, n_iters=1)
    members: dict[int, list[int]] = {}
    for i in range(60):
        members.setdefault(np_assign(vecs[i], [np.array(c) for c in cents0]), []).append(i)
    want = [
        vecs[members[cid]].mean(axis=0) if cid in members else vecs[cid]
        for cid in range(8)
    ]
    assert np.allclose(np.array(cents1), np.array(want), atol=1e-12)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def _mixed_media(spark, n: int = 10):
    """Real BMP images, WAV audio and Y4M video in one media frame."""
    from crawler_spark.pipeline.multimodal import (
        make_bmp_media,
        make_wav_media,
        make_y4m_media,
    )

    return (
        make_bmp_media(spark, n=n)
        .unionByName(make_wav_media(spark, n=n))
        .unionByName(make_y4m_media(spark, n=n))
    )


def test_sample_frames_matches_python_kernel(spark):
    """mapInPandas frame fan-out == per-row Python kernel over real mixed
    media: only video rows emit, one row per sampled frame, blob never in
    output."""
    from crawler_spark.pipeline.multimodal import frame_sample, sample_frames

    media = _mixed_media(spark)
    got = {
        (r["media_id"], r["frame_no"]): (r["frame_md5"], r["frame_bytes"])
        for r in sample_frames(media, every_n=4).collect()
    }
    want = {}
    for row in media.collect():
        if row["kind"] != "video":
            continue
        for j, fr in enumerate(frame_sample(bytes(row["content"]), 4)):
            want[(row["media_id"], j)] = (
                hashlib.md5(fr.hex().encode()).hexdigest(),
                len(fr),
            )
    assert got == want and len(want) > 0


def test_resize_images_matches_python_kernel(spark):
    """mapInPandas resize == per-row Python kernel over real mixed media:
    only image rows emit, and the output carries the resized pixel
    buffer's fingerprint/size, never pixels."""
    from crawler_spark.pipeline.multimodal import (
        decode_pixels,
        resize_image,
        resize_images,
        resize_nearest,
    )

    media = _mixed_media(spark)
    out = resize_images(media, width=32, height=32).collect()
    assert set(out[0].asDict()) == {
        "media_id", "width", "height", "resized_md5", "resized_bytes",
    }
    got = {r["media_id"]: (r["resized_md5"], r["resized_bytes"]) for r in out}
    want = {}
    for row in media.collect():
        if row["kind"] != "image":
            continue
        pix = resize_nearest(decode_pixels(bytes(row["content"])), 32, 32)
        want[row["media_id"]] = (
            hashlib.md5(pix.tobytes().hex().encode()).hexdigest(),
            pix.nbytes,
        )
    assert got == want and len(want) > 0
    # real-codec gate: an unknown format must refuse, not fake
    with pytest.raises(NotImplementedError):
        resize_image(b"x", 8, 8)


@pytest.mark.parametrize(
    "kind, blob",
    [
        ("image", b"RIFF\x00\x00\x00\x00WEBPVP8 "),
        ("video", b"\x00\x00\x00\x18ftypmp42"),
    ],
)
def test_unsupported_media_fails_loudly(spark, kind, blob):
    """An image the BMP/PNG/JPEG codecs cannot read, or a video that is
    not Y4M, fails the Spark job with NotImplementedError rather than
    emitting a made-up fingerprint or frame."""
    from crawler_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
        sample_frames,
    )

    media = spark.createDataFrame(
        [(1, kind, blob, "application/octet-stream", len(blob), "https://m.example/1")],
        MEDIA_SCHEMA,
    )
    op = resize_images(media, 8, 8) if kind == "image" else sample_frames(media, 2)
    with pytest.raises(Exception, match="NotImplementedError"):
        op.collect()


def test_ivf_sizing_rule_bounds_cluster_mass_at_sf01(spark):
    """The sizing rule C = max(16, ceil(N/1024)) actually bounds
    the pair-generation cost at sf0.1 (the r1/r2 'one knob to watch'):
    with the rule-derived C, the Sigma cluster^2 proxy (semantic_dedup's
    within-cluster pair work) stays within 2x of the balanced ideal N^2/C,
    no cluster exceeds a 20% share, and every centroid owns vectors.
    Measured headroom: ratio 1.01, max share 0.074 at n_iters=0."""
    import os

    from crawler_spark.pipeline.similarity import ivf_centroids, ivf_probe_expr

    sf_dir = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    c = 16  # the rule's floor: sf0.1 has N = 2,000 vectors, ceil(N/1024) = 2
    cents = ivf_centroids(emb, "vec_id", "embedding", n_centroids=c, n_iters=0)
    sizes = [
        r["cnt"]
        for r in emb.select(
            ivf_probe_expr(F.col("embedding"), cents, nprobe=1)[0].alias("cid")
        )
        .groupBy("cid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    ]
    assert len(sizes) == c  # no empty clusters at this SF
    assert sum(s * s for s in sizes) <= 2.0 * (n * n / c)
    assert max(sizes) <= 0.2 * n


def test_bmp_codec_roundtrip_and_layout():
    """From-scratch BMP codec: encode→decode is identity across widths that
    exercise every 4-byte-padding case; top-down (negative height) BMPs
    decode too; non-BMP and compressed inputs are rejected."""
    import struct

    import numpy as np

    from crawler_spark.pipeline.multimodal import (
        bmp_decode,
        bmp_encode,
        bmp_test_pixels,
    )

    for w in (1, 2, 3, 4, 5, 16, 17):  # w%4 covers all pad widths
        pix = bmp_test_pixels(9, w, 5)
        data = bmp_encode(pix)
        assert data[:2] == b"BM" and len(data) == 54 + ((w * 3 + 3) & ~3) * 5
        assert np.array_equal(bmp_decode(data), pix)
    # top-down variant: flip rows, negate biHeight — same decoded image
    pix = bmp_test_pixels(3, 6, 4)
    data = bytearray(bmp_encode(pix[::-1]))
    data[22:26] = struct.pack("<i", -4)
    assert np.array_equal(bmp_decode(bytes(data)), pix)
    with pytest.raises(ValueError):
        bmp_decode(b"PNG not a bmp")


def test_resize_nearest_integer_mapping():
    """Nearest-neighbor uses (dst*src)//target index math exactly."""
    import numpy as np

    from crawler_spark.pipeline.multimodal import bmp_test_pixels, resize_nearest

    pix = bmp_test_pixels(1, 20, 14)
    out = resize_nearest(pix, 8, 8)
    assert out.shape == (8, 8, 3)
    for y in range(8):
        for x in range(8):
            assert (out[y, x] == pix[(y * 14) // 8, (x * 20) // 8]).all()


def test_y4m_parse_and_real_frame_sampling():
    """From-scratch Y4M parser: frame count/size for C444 and C420, frame
    params tolerated, and frame_sample decodes Y4M input for real."""
    from crawler_spark.pipeline.multimodal import (
        frame_sample,
        y4m_frames,
        y4m_test_stream,
    )

    data = y4m_test_stream(7, 8, 6, 9)
    frames = y4m_frames(data)
    assert len(frames) == 9 and all(len(f) == 3 * 8 * 6 for f in frames)
    # every 2nd frame, original order kept
    sampled = frame_sample(data, every_n=2)
    assert sampled == frames[::2]
    # C420 plane sizing + frame-level params after the FRAME keyword
    c420 = (
        b"YUV4MPEG2 W4 H4 C420jpeg\n"
        + b"FRAME Xparam\n" + bytes(range(24))
        + b"FRAME\n" + bytes(range(24, 48))
    )
    fr = y4m_frames(c420)
    assert len(fr) == 2 and len(fr[0]) == 24 and fr[1] == bytes(range(24, 48))
    with pytest.raises(ValueError):
        y4m_frames(b"RIFF not y4m")


def test_real_bmp_resize_and_stats_via_spark(spark):
    """resize_images and image_stats run the REAL pixel path on BMP media:
    fingerprints equal a NumPy-only reimplementation, and channel sums
    require an actual decode (header, padding, bottom-up, BGR swap)."""
    import hashlib

    import numpy as np

    from crawler_spark.pipeline.multimodal import (
        bmp_test_pixels,
        image_stats,
        make_bmp_media,
        resize_images,
        resize_nearest,
    )

    media = make_bmp_media(spark, n=12)
    got = {
        r["media_id"]: (r["resized_md5"], r["resized_bytes"])
        for r in resize_images(media, 8, 8).collect()
    }
    stats = {r["media_id"]: r for r in image_stats(media).collect()}
    for i in range(12):
        pix = bmp_test_pixels(i, 16 + i % 9, 12 + i % 7)
        rs = resize_nearest(pix, 8, 8)
        assert got[i] == (
            hashlib.md5(rs.tobytes().hex().encode()).hexdigest(),
            192,
        )
        s = stats[i]
        sums = pix.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        assert (s["width"], s["height"]) == (16 + i % 9, 12 + i % 7)
        assert (s["sum_r"], s["sum_g"], s["sum_b"]) == tuple(int(v) for v in sums)


def test_png_codec_roundtrip_filters_and_gates():
    """From-scratch PNG codec (stdlib zlib): encode→decode is identity for
    grey/RGB/RGBA at heights ≥5 (the y%5 fixture filtering exercises all
    five Sub/Up/Average/Paeth defilter paths) and widths covering every
    stride shape; multi-IDAT streams reassemble; CRC corruption, bad
    signatures, and unsupported shapes (16-bit, interlaced) are rejected."""
    import struct
    import zlib

    import numpy as np

    from crawler_spark.pipeline.multimodal import (
        bmp_test_pixels,
        png_decode,
        png_encode,
    )

    for w in (1, 2, 3, 5, 17):
        pix = bmp_test_pixels(9, w, 7)  # 7 rows → filters 0,1,2,3,4,0,1
        for arr in (pix, np.dstack([pix, pix[:, :, :1]]), pix[:, :, 0]):
            out = png_decode(png_encode(arr))
            want = arr[:, :, None] if arr.ndim == 2 else arr
            assert np.array_equal(out, want)
    # multi-IDAT reassembly
    pix = bmp_test_pixels(3, 20, 14)
    data = png_encode(pix, idat_chunk_size=50)
    assert data.count(b"IDAT") > 1 and np.array_equal(png_decode(data), pix)
    # corruption / format gates
    with pytest.raises(ValueError):
        png_decode(b"BM not a png")
    bad = bytearray(png_encode(pix))
    bad[20] ^= 0xFF  # inside IHDR payload → CRC mismatch
    with pytest.raises(ValueError):
        png_decode(bytes(bad))
    sig = data[:8]
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)  # 16-bit depth
    chunk = (
        struct.pack(">I", len(ihdr16)) + b"IHDR" + ihdr16
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr16) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError):
        png_decode(sig + chunk)


def test_real_png_resize_and_stats_via_spark(spark):
    """The mixed BMP+PNG corpus runs the REAL pixel path end-to-end:
    image_stats sums and resize fingerprints for PNG rows equal the
    NumPy-only reimplementation from the shared pixel function — i.e. the
    PNG rows are decoded (inflate + defilter), not faked, and the
    magic-byte dispatch picks the right codec per row."""
    import hashlib

    import numpy as np

    from crawler_spark.pipeline.multimodal import (
        bmp_test_pixels,
        image_stats,
        make_bmp_media,
        make_png_media,
        resize_images,
        resize_nearest,
    )

    media = make_bmp_media(spark, n=6).unionByName(make_png_media(spark, n=6))
    got = {
        r["media_id"]: (r["resized_md5"], r["resized_bytes"])
        for r in resize_images(media, 8, 8).collect()
    }
    stats = {r["media_id"]: r for r in image_stats(media).collect()}
    assert set(got) == set(stats) == {*range(6), *range(100, 106)}
    for mid in got:
        i = mid - 100 if mid >= 100 else mid
        pix = bmp_test_pixels(mid, 16 + i % 9, 12 + i % 7)
        rs = resize_nearest(pix, 8, 8)
        assert got[mid] == (hashlib.md5(rs.tobytes().hex().encode()).hexdigest(), 192)
        sums = pix.reshape(-1, 3).sum(axis=0, dtype=np.int64)
        s = stats[mid]
        assert (s["sum_r"], s["sum_g"], s["sum_b"]) == tuple(int(v) for v in sums)


def test_jpeg_codec_roundtrip_and_gates():
    """Baseline JPEG codec (r5): block-constant grayscale fixtures with
    the all-ones quant table round-trip EXACTLY (the oracle contract —
    DC-only blocks survive FDCT→quantize→IDCT→round bit-for-bit), with
    and without restart markers; arbitrary content round-trips within the
    q=1 rounding bound; RGB 4:4:4 and 4:2:0 decode; custom quant tables
    are read back from DQT; progressive and non-JPEG inputs are rejected
    with explicit errors."""
    import numpy as np
    import pytest

    from crawler_spark.pipeline.multimodal import (
        decode_pixels,
        jpeg_decode,
        jpeg_encode,
        jpeg_test_pixels,
    )

    # oracle contract: exact roundtrip on every fixture shape × DRI on/off
    for mid in (200, 231, 259):
        for w, h in ((16, 16), (24, 16), (32, 24)):
            pix = jpeg_test_pixels(mid, w, h)
            for rst in (0, 2):
                data = jpeg_encode(pix, quant=1, restart_interval=rst)
                assert data[:3] == b"\xff\xd8\xff" and data[-2:] == b"\xff\xd9"
                if rst:
                    assert b"\xff\xdd" in data  # DRI present
                assert np.array_equal(jpeg_decode(data), pix)
                assert np.array_equal(decode_pixels(data), pix)  # dispatch

    # general grayscale content: q=1 is near-lossless (rounding only)
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (24, 40, 1), dtype=np.uint8)
    diff = jpeg_decode(jpeg_encode(img, quant=1)).astype(int) - img.astype(int)
    assert np.abs(diff).max() <= 4

    # RGB 4:4:4 (odd dims exercise MCU edge padding + crop)
    img = rng.randint(0, 256, (17, 23, 3), dtype=np.uint8)
    dec = jpeg_decode(jpeg_encode(img, quant=1))
    assert dec.shape == (17, 23, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 6

    # RGB 4:2:0 with restarts: decoder upsamples chroma; smooth image stays close
    xx, yy = np.meshgrid(np.arange(32), np.arange(24))
    img = np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(np.uint8)
    dec = jpeg_decode(jpeg_encode(img, quant=1, subsample=True, restart_interval=3))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8

    # custom quant table is carried in DQT and dequantized on decode
    q = np.full((8, 8), 16, dtype=np.int64)
    q[0, 0] = 8
    dec = jpeg_decode(jpeg_encode(img, quant=q))
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 8

    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"BM not a jpeg")
    # progressive rejection: splice SOF2 marker into a valid stream
    data = bytearray(jpeg_encode(jpeg_test_pixels(1, 16, 16)))
    data[data.index(b"\xff\xc0")] = 0xFF
    data[data.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        jpeg_decode(bytes(data))


def test_jpeg_spec_tables_pinned():
    """Interop guard: encoder and decoder SHARE the Huffman/zigzag tables,
    so an internal round-trip cannot catch a table typo — the stream would
    stay self-consistent but non-standard. Pin the public T.81 values a
    real decoder would require: the zigzag scan's first entries (Fig. A.6)
    and known Annex-K canonical codes (DC-luma category 0 = '00', AC-luma
    EOB = '1010', AC-luma ZRL = 11-bit '11111111001')."""
    from crawler_spark.pipeline.multimodal import (
        _JPEG_AC_LUMA,
        _JPEG_DC_LUMA,
        _JPEG_ZIGZAG,
        _huff_encode_map,
    )

    assert list(_JPEG_ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(_JPEG_ZIGZAG[-4:]) == [47, 55, 62, 63]
    assert sorted(_JPEG_ZIGZAG) == list(range(64))  # a permutation
    dc = _huff_encode_map(*_JPEG_DC_LUMA)
    assert dc[0] == (0b00, 2)
    assert dc[1] == (0b010, 3) and dc[2] == (0b011, 3)
    ac = _huff_encode_map(*_JPEG_AC_LUMA)
    assert ac[0x00] == (0b1010, 4)  # EOB
    assert ac[0x01] == (0b00, 2)
    assert ac[0xF0] == (0b11111111001, 11)  # ZRL
    assert len(_JPEG_AC_LUMA[1]) == 162


def test_real_jpeg_resize_and_stats_via_spark(spark):
    """JPEG rows run the REAL pixel path end-to-end through the Spark
    operators: image_stats decodes (Huffman + IDCT) and broadcasts grey
    to r=g=b; resize fingerprints equal the NumPy reimplementation from
    the shared block-constant pixel function (64-byte grey buffers)."""
    import hashlib

    import numpy as np

    from crawler_spark.pipeline.multimodal import (
        image_stats,
        jpeg_test_pixels,
        make_jpeg_media,
        resize_images,
        resize_nearest,
    )

    media = make_jpeg_media(spark, n=8)
    got = {
        r["media_id"]: (r["resized_md5"], r["resized_bytes"])
        for r in resize_images(media, 8, 8).collect()
    }
    stats = {r["media_id"]: r for r in image_stats(media).collect()}
    assert set(got) == set(stats) == set(range(200, 208))
    for mid in got:
        i = mid - 200
        w, h = 16 + 8 * (i % 3), 16 + 8 * (i % 2)
        pix = jpeg_test_pixels(mid, w, h)
        rs = resize_nearest(pix, 8, 8)
        assert got[mid] == (hashlib.md5(rs.tobytes().hex().encode()).hexdigest(), 64)
        s = stats[mid]
        total = int(pix.sum(dtype=np.int64))
        assert (s["width"], s["height"]) == (w, h)
        assert (s["sum_r"], s["sum_g"], s["sum_b"]) == (total, total, total)


def test_substring_dup_spans_merge_and_threshold(spark):
    """Exact substring dedup: cross-doc duplicated k-grams become spans;
    within-doc repeats count toward the threshold; overlapping intervals
    merge into one maximal span; ADJACENT intervals (pos == running end)
    merge too; a gap strictly past the running end breaks the island; docs
    with no duplicated gram emit nothing."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),       # shares "c d e" with doc 2
            (2, "x y c d e z w"),
            (3, "p q r p q r p q r"),     # self-repeating → one merged span
            (4, "m n o"),                 # unique → no spans
            (5, "s t u xx s t u"),        # dup at pos 0 and 4 → gap → 2 spans
            (6, "g1 g1 g1 g2 g2 g2"),     # dup at pos 0 and 3 → adjacent → merge
            (7, "g1 g1 g1"),
            (8, "g2 g2 g2"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["n_grams"]
        for r in dd.substring_dup_spans(docs, "doc_id", "text", k=3).collect()
    }
    assert out == {
        (1, 2, 5): 1,
        (2, 2, 5): 1,
        (3, 0, 9): 7,   # every 3-gram of the repeat appears >= 2x in-doc
        (5, 0, 3): 1,
        (5, 4, 7): 1,   # island break: 4 > prev end 3
        (6, 0, 6): 2,   # adjacency (3 == prev end 3) merges
        (7, 0, 3): 1,
        (8, 0, 3): 1,
    }


def test_substring_dedup_apply_keep_first_and_reassembly(spark):
    """The applied Lee et al. ending (r5): the globally FIRST occurrence
    of each duplicated gram survives (cross-doc: lower doc_id wins;
    within-doc: lower pos wins), later occurrences are cut, cut intervals
    merge, and docs reassemble from surviving tokens — including the
    full-cut → empty-text and untouched-doc arms."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),     # owns first "c d e" → untouched
            (2, "x y c d e z w"),       # loses "c d e" → cut [2,5)
            (3, "p q r p q r p q r"),   # self-repeat: first copy survives
            (4, "m n o"),               # unique → untouched
            (5, "s t u xx s t u"),      # within-doc keep-first at pos 0
            (6, "g1 g1 g1 g2 g2 g2"),   # owns both firsts → untouched
            (7, "g1 g1 g1"),            # fully cut → empty clean_text
            (8, "g2 g2 g2"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in dd.substring_dedup_apply(docs, "doc_id", "text", k=3).collect()
    }
    assert out == {
        1: (8, 0, "a b c d e f g h"),
        2: (7, 3, "x y z w"),
        3: (9, 6, "p q r"),
        4: (3, 0, "m n o"),
        5: (7, 3, "s t u xx"),
        6: (6, 0, "g1 g1 g1 g2 g2 g2"),
        7: (3, 3, ""),
        8: (3, 3, ""),
    }


def test_cdc_chunk_dedup_matches_reference_and_shift_invariance(spark):
    """CDC chunking (r5): Spark output equals a pure-Python reimplementation
    of the boundary rule (bigram md5h60 % m == 0) including keep-first
    keeper flags; chunks partition each doc exactly; and the FastCDC
    property holds — prepending one token to a doc re-chunks only the
    head, so the tail chunks still dedup against the original (the case
    fixed-window span_dedup cannot catch)."""
    import hashlib

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    )
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "zzz " + base), (4, "solo"), (5, "")],
        "doc_id long, text string",
    )
    rows = dd.cdc_chunk_dedup(docs, "doc_id", "text", modulus=4).collect()

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def ref_chunks(text: str) -> list[tuple[int, int]]:
        toks = [t for t in text.lower().split() if t]
        n = len(toks)
        if n == 0:
            return []
        bps = [
            p
            for p in range(2, n + 1)
            if h60(toks[p - 2] + " " + toks[p - 1]) % 4 == 0
        ]
        starts, ends = [1] + bps, bps + [n + 1]
        return [
            (e - s, h60(" ".join(toks[s - 1 : e - 1])))
            for s, e in zip(starts, ends)
        ]

    texts = {1: base, 2: base, 3: "zzz " + base, 4: "solo", 5: ""}
    expect = {}  # (doc, idx) -> (len, hash)
    copies: dict[int, list[tuple[int, int]]] = {}
    for d in sorted(texts):
        for i, (ln, h) in enumerate(ref_chunks(texts[d])):
            expect[(d, i)] = (ln, h)
            copies.setdefault(h, []).append((d, i))
    got = {(r["doc_id"], r["chunk_idx"]): r for r in rows}
    assert set(got) == set(expect)
    for key, (ln, h) in expect.items():
        r = got[key]
        assert (r["n_chunk_tokens"], r["chunk_hash"]) == (ln, h)
        assert r["n_copies"] == len(copies[h])
        assert r["is_keeper"] == (min(copies[h]) == key)
    # partition property: chunk lengths sum to the token count
    for d, text in texts.items():
        ntok = len([t for t in text.split() if t])
        assert sum(v[0] for k, v in expect.items() if k[0] == d) == ntok
    # identical docs fully dedup (doc 2 keeps nothing)
    assert all(not r["is_keeper"] for r in rows if r["doc_id"] == 2)
    # shift invariance: doc 3 shares its tail chunks with doc 1
    shared = {v[1] for k, v in expect.items() if k[0] == 1} & {
        v[1] for k, v in expect.items() if k[0] == 3
    }
    assert shared, "prepending one token destroyed every chunk — not CDC"


def test_host_mirrors_cap_threshold_and_ratio(spark):
    """Mirror detection (r5): full mirror flagged at ratio 1.0; partial
    overlap below min_ratio reported unflagged; a single shared doc stays
    under min_common; a fingerprint on more than host_cap hosts is
    dropped BEFORE the pair join (ubiquitous boilerplate never pairs);
    within-host duplicate texts collapse via the distinct."""
    rows = (
        [("a", f"doc {i} body") for i in range(6)]
        + [("b", f"doc {i} body") for i in range(6)]        # b mirrors a fully
        + [("c", "doc 0 body"), ("c", "doc 1 body")]        # 2 shared (on a,b,c = cap ok)
        + [("c", f"c-only {i}") for i in range(6)]          # catalog 8 → ratio 2/6 < 0.5
        + [("d", "doc 2 body"), ("d", "doc 2 body")]        # 1 shared (dup rows collapse)
        + [("d", "d-only")]
        + [(h, "cookie banner") for h in "abcd"]            # on ALL 4 hosts → capped out
    )
    df = spark.createDataFrame(rows, "host string, text string")
    out = {
        (r["host_a"], r["host_b"]): r
        for r in dd.host_mirrors(
            df, "host", "text", min_common=2, min_ratio=0.5, host_cap=3
        ).collect()
    }
    ab = out[("a", "b")]
    assert (ab["n_common"], ab["overlap"], ab["is_mirror"]) == (6, 1.0, True)
    ac = out[("a", "c")]
    assert (ac["n_common"], ac["overlap"], ac["is_mirror"]) == (2, round(2 / 6, 6), False)
    assert ("a", "d") not in out  # 1 shared < min_common
    assert ("b", "d") not in out
    assert not out[("b", "c")]["is_mirror"]
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}


def test_url_template_stats_flags_infinite_spaces(spark):
    """Crawler-trap detection (r5): digit/hex runs collapse to one
    template; a host-dominating large template is flagged; small or
    minority templates are not; singleton templates are dropped."""
    from crawler_spark.frontier.canon import url_template_stats

    rows = (
        [(f"https://big.example/item/{i}",) for i in range(12)]
        + [(f"https://big.example/page/{i}",) for i in range(3)]
        + [("https://big.example/about",)]
        + [(f"https://tiny.example/p/{i}",) for i in range(4)]
        + [(f"https://hex.example/s/{'ab12cd34ef' * 2}{i}/view",) for i in range(6)]
    )
    df = spark.createDataFrame(rows, "url_canon string")
    out = {
        (r["host"], r["template"]): r
        for r in url_template_stats(df, min_urls=10, min_share=0.5).collect()
    }
    big_item = out[("big.example", "/item/{d}")]
    assert big_item["n_urls"] == 12 and big_item["is_trap"]
    assert big_item["host_share"] == 0.75  # 12/16
    assert not out[("big.example", "/page/{d}")]["is_trap"]
    assert ("big.example", "/about") not in out  # singleton dropped
    tiny = out[("tiny.example", "/p/{d}")]
    assert tiny["n_urls"] == 4 and not tiny["is_trap"]  # dominant but small
    # hex run collapses to {x} (then trailing digit to {d})
    assert ("hex.example", "/s/{x}/view") in out or any(
        k[0] == "hex.example" for k in out
    )
    hexk = [k for k in out if k[0] == "hex.example"]
    assert len(hexk) == 1, hexk  # all six URLs collapsed to ONE template


def test_wav_codec_roundtrip_chunkwalk_and_stats(spark):
    """From-scratch WAV codec: encode→decode is identity for mono/stereo
    16-bit PCM; the chunk walk skips unknown (LIST) chunks with word
    alignment; non-RIFF/truncated/compressed inputs are rejected; and
    audio_stats runs the REAL decode path on Spark (integer sums equal a
    NumPy-only reimplementation from the sample formula)."""
    import struct

    import numpy as np

    from crawler_spark.pipeline.multimodal import (
        audio_stats,
        make_wav_media,
        wav_decode,
        wav_encode,
        wav_test_samples,
    )

    for n, ch, rate in ((1, 1, 8000), (400, 2, 16000), (441, 1, 44100)):
        s = wav_test_samples(7, n, ch)
        arr, r = wav_decode(wav_encode(s, rate))
        assert r == rate and np.array_equal(arr, s)
    # unknown chunk (odd length, word-padded) between fmt and data
    s = wav_test_samples(3, 10, 2)
    raw = wav_encode(s, 8000)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    patched = raw[:fmt_end] + extra + raw[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    arr, _ = wav_decode(patched)
    assert np.array_equal(arr, s)
    for bad in (b"OggS123", b"RIFFxxxxWAVE", raw[:30]):
        with pytest.raises(ValueError):
            wav_decode(bad)
    # Spark path vs the sample formula
    stats = {r["media_id"]: r for r in audio_stats(make_wav_media(spark, n=8)).collect()}
    for i in range(8):
        a = wav_test_samples(i, 400 + 20 * (i % 5), 1 + i % 2).astype(np.int64)
        s = stats[i]
        assert (s["n_samples"], s["n_channels"], s["sample_rate"]) == (
            400 + 20 * (i % 5), 1 + i % 2, 8000,
        )
        assert s["sum_ch0"] == int(a[:, 0].sum())
        assert s["sum_abs_ch0"] == int(np.abs(a[:, 0]).sum())
        assert s["peak_abs"] == int(np.abs(a).max())


@pytest.mark.parametrize("cutoff", [0, 1_000_000])  # distributed / union-find
def test_connected_components_chain_and_islands(spark, cutoff):
    # chain 1-2-3-4 (diameter 3, needs >1 round), island {10,11}, and a
    # triangle {20,21,22} with redundant edges; 30 is a singleton via
    # near_dup_components only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {
        r["node"]: r["comp"]
        for r in dd.connected_components(pairs, driver_cutoff=cutoff).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


@pytest.mark.parametrize("cutoff", [0, 1_000_000])
def test_connected_components_long_chain_pointer_jump(spark, cutoff):
    # 0-1-2-...-15: min label must traverse the whole chain; pointer
    # jumping keeps rounds logarithmic but correctness is what's pinned
    n = 16
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    rows = dd.connected_components(pairs, driver_cutoff=cutoff).collect()
    assert {r["node"] for r in rows} == set(range(n))
    assert all(r["comp"] == 0 for r in rows)


def test_near_dup_components_keepers(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in [1, 2, 3, 7]], "doc_id long, t string")
    pairs = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    out = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in dd.near_dup_components(docs, "doc_id", pairs).collect()
    }
    assert out == {1: (1, True), 2: (2, True), 3: (2, False), 7: (7, True)}


def test_span_dedup_keep_first_and_reassemble(spark):
    # spans of 2 tokens; "a b" appears in doc1(span0), doc1(span2), doc2(span0):
    # only doc1 span0 survives; doc2's "c d" (span1) is first-seen there
    docs = spark.createDataFrame(
        [(1, "a b x y a b"), (2, "a b c d"), (3, "c d"), (4, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["clean_text"])
        for r in dd.span_dedup(docs, "doc_id", "text", span_tokens=2).collect()
    }
    assert out[1] == (3, 2, "a b x y")        # duplicate 3rd span dropped
    assert out[2] == (2, 1, "c d")            # "a b" already seen in doc 1
    assert out[3] == (1, 0, "")               # "c d" already seen in doc 2
    assert out[4] == (0, 0, "")               # empty doc survives with 0 spans


def test_boilerplate_strip_per_group_threshold(spark):
    # 2-token spans, min_docs=2. Group g1: "a b" occurs in docs 1,2,3 ->
    # boilerplate, stripped from EVERY copy (unlike span_dedup's keep-first).
    # Group g2: "a b" occurs in ONE doc there -> survives (per-group
    # threshold). Group g3: within-doc repetition alone (doc 6) does not
    # trigger (distinct-doc count), until doc 7 repeats the span.
    docs = spark.createDataFrame(
        [
            (1, "g1", "a b x y"),
            (2, "g1", "a b c d"),
            (3, "g1", "a b"),
            (4, "g2", "a b q r"),
            (5, "g2", ""),
            (6, "g3", "e f e f"),
            (7, "g3", "e f"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_boiler"], r["clean_text"])
        for r in dd.boilerplate_strip(
            docs, "doc_id", "text", "source", span_tokens=2, min_docs=2
        ).collect()
    }
    assert out[1] == (2, 1, "x y")
    assert out[2] == (2, 1, "c d")
    assert out[3] == (1, 1, "")
    assert out[4] == (2, 0, "a b q r")   # per-group: not boiler in g2
    assert out[5] == (0, 0, "")
    assert out[6] == (2, 2, "")          # both copies stripped
    assert out[7] == (1, 1, "")


def test_repetition_stats_hand_case(spark):
    # "a b a b a b": bigrams = [ab, ba, ab, ba, ab] -> top "a b" 3/5;
    # all 5 bigram instances have count>1 -> dup would be 5/5 for bigrams,
    # trigrams = [aba, bab, aba, bab] all duplicated -> dup_trigram 1.0.
    # "x y z": 2 distinct bigrams -> top 1/2; trigram "x y z" once -> dup 0.
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z"), (3, "w"), (4, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["top_bigram_frac"], r["dup_trigram_frac"])
        for r in ts.repetition_stats(docs, "doc_id", "text").collect()
    }
    assert out[1] == (3 / 5, 1.0)
    assert out[2] == (1 / 2, 0.0)
    assert out[3] == (0.0, 0.0)   # too short for any n-gram
    assert out[4] == (0.0, 0.0)


def test_pagerank_hand_case(spark):
    # star: 1->3, 2->3; 3 dangling. r0=1 each.
    # iter1: r(3) = 0.15 + 0.85*(1/1 + 1/1) = 1.85; r(1)=r(2)=0.15 (no inflow)
    # iter2: r(3) = 0.15 + 0.85*(0.15 + 0.15) = 0.405
    from crawler_spark.pipeline.graph import pagerank

    edges = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    r1 = {r["node"]: r["rank"] for r in pagerank(edges, iters=1).collect()}
    assert r1 == {1: 0.15, 2: 0.15, 3: 1.85}
    r2 = {r["node"]: r["rank"] for r in pagerank(edges, iters=2).collect()}
    assert r2[3] == 0.405 and r2[1] == 0.15


def test_span_dedup_matches_python_oracle_hypothesis(spark):
    """Randomized corpora over a tiny vocab (maximal span collisions):
    Spark span_dedup == a pure-Python keep-first oracle, including span
    counts and the reassembled text. Few examples — each is a Spark job."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    W = 2
    word = st.sampled_from(["a", "b", "c"])
    doc = st.lists(word, min_size=0, max_size=9).map(" ".join)

    def py_oracle(docs):
        spans_by_doc = {
            did: [
                " ".join(t.split()[i * W : (i + 1) * W])
                for i in range((len(t.split()) + W - 1) // W)
            ]
            for did, t in docs
        }
        first = {}
        for did in sorted(spans_by_doc):
            for idx, s in enumerate(spans_by_doc[did]):
                first.setdefault(s, (did, idx))
        return {
            did: (
                len(spans),
                sum(1 for i, s in enumerate(spans) if first[s] == (did, i)),
                " ".join(s for i, s in enumerate(spans) if first[s] == (did, i)),
            )
            for did, spans in spans_by_doc.items()
        }

    @settings(max_examples=4, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=12))
    def inner(texts):
        docs = list(enumerate(texts))
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_spans"], r["n_kept"], r["clean_text"])
            for r in dd.span_dedup(sdf, "doc_id", "text", span_tokens=W).collect()
        }
        assert got == py_oracle(docs)

    inner()


def test_lsh_bucket_pairs_subset_of_exact(spark):
    """Every bucketed pair is a true pair (exact cosine, same rounding);
    bucketing only prunes candidates, never invents them."""
    from crawler_spark.pipeline.similarity import cosine_near_dups, lsh_bucket_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bucketed = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in lsh_bucket_pairs(emb, n_planes=4, dim=64, threshold=0.2).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_near_dups(emb, threshold=0.2).collect()
    }
    assert bucketed <= exact
    assert len(bucketed) > 0


def test_inverted_postings_hand_case(spark):
    # k=2: term a -> docs (1, tf2), (2, tf1); c -> (3, tf3), (2, tf1);
    # postings rank by (tf desc, doc_id asc), encoded "id:tf" in rank order
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c")],
        "doc_id long, text string",
    )
    out = {
        r["term"]: (r["df_t"], r["postings"])
        for r in ts.inverted_postings(docs, "doc_id", "text", k=2).collect()
    }
    assert out == {
        "a": (2, "1:2,2:1"),
        "b": (1, "1:1"),
        "c": (2, "3:3,2:1"),
    }
    # k=1 truncates the posting list but df_t still counts every doc
    out1 = {
        r["term"]: (r["df_t"], r["postings"])
        for r in ts.inverted_postings(docs, "doc_id", "text", k=1).collect()
    }
    assert out1 == {"a": (2, "1:2"), "b": (1, "1:1"), "c": (2, "3:3")}


def test_tfidf_and_postings_pin_no_cache(spark):
    """Both return lazy frames, so a cache they persisted could never be
    released: each call leaves the persisted-RDD count as it found it."""
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c")],
        "doc_id long, text string",
    )
    jsc = spark.sparkContext._jsc
    for build in (
        lambda: ts.tfidf_top_terms(docs, "doc_id", "text", k=2),
        lambda: ts.inverted_postings(docs, "doc_id", "text", k=2),
    ):
        before = set(jsc.getPersistentRDDs().keySet())
        assert build().count() > 0
        assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_pii_redact_hand_case(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail bob@x-1.example.org then call 555-123-4567 from 10.0.0.1"),
            (2, "no pii here at all"),
            (3, "two mails a@b.io c@d.co and ip 192.168.001.255"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_email"], r["n_phone"], r["n_ip"], r["clean_text"])
        for r in ts.pii_redact(docs, "doc_id", "text").collect()
    }
    assert out[1] == (
        1, 1, 1,
        "mail |||EMAIL_ADDRESS||| then call |||PHONE_NUMBER||| from |||IP_ADDRESS|||",
    )
    assert out[2] == (0, 0, 0, "no pii here at all")
    assert out[3] == (2, 0, 1, "two mails |||EMAIL_ADDRESS||| |||EMAIL_ADDRESS||| and ip |||IP_ADDRESS|||")
    assert out[4] == (0, 0, 0, "")


def test_detect_changes_classification(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, fp string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "doc_id long, fp string"
    )
    out = {
        r["doc_id"]: (r["status"], r["old_fp"], r["new_fp"])
        for r in dd.detect_changes(old, new, "doc_id", "fp").collect()
    }
    assert out == {
        1: ("unchanged", "a", "a"),
        2: ("changed", "b", "B2"),
        3: ("removed", "c", None),
        4: ("added", None, "d"),
    }


# ---------------------------------------------------------------------------
# HITS, corpus familiarity, sequence packing (r5 continuation)
# ---------------------------------------------------------------------------


def test_hits_matches_python_oracle(spark):
    """3-iteration L1-normalized HITS on a small directed graph vs an
    exact Python replay of the same determinism contract."""
    from crawler_spark.pipeline.graph import hits

    edges = [(1, 3), (2, 3), (3, 4), (2, 4), (4, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, iters=3, small_scores=True).collect()
    }

    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1.0 for n in nodes}
    auth = {}
    for _ in range(3):
        raw_a = {
            n: round(sum(hub[s] for s, d in edges if d == n), 8) for n in nodes
        }
        ta = sum(raw_a.values())  # exact: 8-d.p. values, tiny count
        auth = {n: round(raw_a[n] / ta, 8) for n in nodes}
        raw_h = {
            n: round(sum(auth[d] for s, d in edges if s == n), 8) for n in nodes
        }
        th = sum(raw_h.values())
        hub = {n: round(raw_h[n] / th, 8) for n in nodes}

    assert set(got) == set(nodes)
    for n in nodes:
        assert got[n] == (hub[n], auth[n])
    # node 3 takes two of the four hub votes -> top authority; 4 beats 1.
    order = sorted(nodes, key=lambda n: -auth[n])
    assert order[0] == 3
    # L1 norms hold (up to the 8-d.p. per-node rounding)
    assert abs(sum(a for _, a in got.values()) - 1.0) < 1e-6
    assert abs(sum(h for h, _ in got.values()) - 1.0) < 1e-6


def test_corpus_familiarity_matches_python(docs_df):
    from collections import Counter

    cnt = Counter(t for _, text in DOCS for t in text.lower().split())
    n_corpus = sum(cnt.values())
    jsc = docs_df.sparkSession.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keySet())
    got = {
        r["doc_id"]: (r["n_tokens"], r["sum_cnt"], r["familiarity"])
        for r in ts.corpus_familiarity(docs_df, "doc_id", "text").collect()
    }
    # the returned frame is lazy, so nothing can release a cache it pins
    assert set(jsc.getPersistentRDDs().keySet()) - persisted == set()
    assert set(got) == {d for d, _ in DOCS}
    for doc_id, text in DOCS:
        toks = text.lower().split()
        sum_cnt = sum(cnt[t] for t in toks)
        fam = sum_cnt / (len(toks) * n_corpus) if toks else 0.0
        assert got[doc_id] == (len(toks), sum_cnt, fam)
    # stopword-heavy doc 0 is more familiar than the unrelated-words doc 3
    assert got[0][2] > got[3][2]


def test_sequence_pack_matches_python_next_fit(spark):
    """Budget-4 packing on hand-written token counts: full pieces are
    singleton packs, remainders next-fit per source by explicit-floor
    cumsum, per-pack stats consistent."""
    from crawler_spark.pipeline.packing import sequence_pack

    rows = [
        # (doc_id, source, n_tokens) -> text of n one-char tokens
        (1, "a", 9),   # pieces: 4,4,1(rem)
        (2, "a", 3),   # rem 3
        (3, "a", 4),   # one full piece exactly
        (4, "b", 2),   # rem 2
        (5, "b", 6),   # 4 + rem 2
    ]
    df = spark.createDataFrame(
        [(d, s, " ".join(["x"] * n)) for d, s, n in rows],
        ["doc_id", "source", "text"],
    )
    out = sequence_pack(df, "doc_id", "text", "source", budget=4).collect()
    by_piece = {(r["doc_id"], r["piece_idx"]): r for r in out}

    # piece split: ceil(n/4) pieces, all 4s then the remainder
    for d, s, n in rows:
        pieces = [r for r in out if r["doc_id"] == d]
        assert len(pieces) == -(-n // 4)
        assert sum(p["piece_tokens"] for p in pieces) == n
    # full pieces are their own pack of exactly budget tokens
    for r in out:
        if r["piece_tokens"] == 4:
            assert r["pack_id"] == f"full-{r['doc_id']}-{r['piece_idx']}"
            assert (r["pack_tokens"], r["n_pack_pieces"]) == (4, 1)
            assert r["pack_fill"] == 1.0
    # source a remainders in (doc_id, piece_idx) order: sizes 1 (doc1), 3
    # (doc2): cum_before 0 and 1 -> both floor to group 0 -> one pack of 4
    assert by_piece[(1, 2)]["pack_id"] == "rem-a-0"
    assert by_piece[(2, 0)]["pack_id"] == "rem-a-0"
    assert by_piece[(1, 2)]["pack_tokens"] == 4
    assert by_piece[(1, 2)]["n_pack_pieces"] == 2
    # source b remainders: doc4 rem 2 (cum 0 -> g0), doc5 rem 2 (cum 2 -> g0)
    assert by_piece[(4, 0)]["pack_id"] == "rem-b-0"
    assert by_piece[(5, 1)]["pack_id"] == "rem-b-0"
    assert by_piece[(4, 0)]["pack_fill"] == 1.0


def test_unicode_normalize_nfc_ctrl_and_whitespace(spark):
    rows = [
        (0, "cafe\u0301 time"),      # decomposed -> composed e-acute
        (1, "a\x07b\x00c"),              # control chars stripped, counted
        (2, "  ragged \t\n spaces  "),   # collapse + trim
        (3, "plain ascii"),              # untouched
        (4, ""),                         # empty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_ctrl"], r["changed"], r["clean_text"])
        for r in ts.unicode_normalize(df, "doc_id", "text").collect()
    }
    assert got[0] == (0, True, "caf\u00e9 time")
    assert got[1] == (2, True, "abc")
    assert got[2] == (0, True, "ragged spaces")
    assert got[3] == (0, False, "plain ascii")
    assert got[4] == (0, False, "")


def test_containment_decontaminate_embedded_benchmark(spark):
    """A benchmark item fully embedded in a long train doc must hit
    containment 1.0 even though Jaccard is tiny."""
    bench = spark.createDataFrame(
        [(0, "the quick brown fox")], ["doc_id", "text"]
    )
    long_filler = " ".join(f"w{i}" for i in range(40))
    train = spark.createDataFrame(
        [
            (10, long_filler + " the quick brown fox " + long_filler),
            (11, "quick brown fox jumps high today"),  # partial overlap
            (12, "nothing in common here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in ts.containment_decontaminate(
            train, bench, "doc_id", "text", n=3, threshold_pct=80
        ).collect()
    }
    # bench has 2 distinct 3-grams; doc 10 contains both
    assert (out[10]["n_shared"], out[10]["bench_size"]) == (2, 2)
    assert out[10]["containment"] == 1.0 and out[10]["contaminated"]
    # doc 11 shares only "quick brown fox" -> 1/2, below 80%
    assert (out[11]["n_shared"], out[11]["contaminated"]) == (1, False)
    assert 12 not in out  # no shared gram -> no pair row at all


def test_trustrank_seed_gated_teleport(spark):
    """Trust only enters at seeds and decays along links; unreachable
    nodes score 0. Python replay of the same contract."""
    from crawler_spark.pipeline.graph import trustrank

    edges = [(1, 2), (2, 3), (4, 3), (3, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: r["rank"]
        for r in trustrank(df, seeds, iters=3, small_ranks=True).collect()
    }

    nodes = sorted({n for e in edges for n in e})
    outdeg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    seed = {n: 1.0 if n == 1 else 0.0 for n in nodes}
    trust = dict(seed)
    for _ in range(3):
        inflow = {n: sum(trust[s] / outdeg[s] for s, d in edges if d == n)
                  for n in nodes}
        trust = {n: round(0.15 * seed[n] + 0.85 * inflow[n], 8) for n in nodes}
    assert got == trust
    # node 1 has no in-links: pure teleport mass; everything reachable
    # from the seed carries strictly positive trust
    assert got[1] == 0.15
    assert all(got[n] > 0 for n in (2, 3, 4))


def test_link_reciprocity_hand_graph(spark):
    from crawler_spark.pipeline.graph import link_reciprocity

    edges = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("b", "c"), ("c", "b"),
        ("a", "a"), ("c", "c"),  # self-loops: dropped, never reciprocated
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r for r in link_reciprocity(df, min_out=2).collect()}
    # a: out {b,c}, b comes back -> 1/2; b: out {a,c}, both come back -> 1
    assert (got["a"]["n_out"], got["a"]["n_reciprocal"]) == (2, 1)
    assert got["a"]["reciprocity"] == 0.5
    assert (got["b"]["n_out"], got["b"]["n_reciprocal"]) == (2, 2)
    assert got["b"]["reciprocity"] == 1.0
    assert "c" not in got  # 1 out-edge besides its self-loop, below min_out


def test_bfs_depth_rings_and_sentinel(spark):
    from crawler_spark.pipeline.graph import bfs_depth

    # 1 -> 2 -> 3 -> 4 -> 5 chain plus a shortcut 1 -> 3 and an island 9 -> 10
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (9, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: r["depth"]
        for r in bfs_depth(df, seeds, max_depth=3, small_frontier=True).collect()
    }
    # shortcut wins: 3 is at depth 1, so 5 is reachable within the cap
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3, 9: -1, 10: -1}


def test_crawl_depth_seeds_dst_only_nodes(spark, tmp_path):
    """q_crawl_depth seeds every graph node < 5, as its oracle does: node 3
    appears only as an edge's dst (event_id % 150) and still gets depth 0,
    while the node it is reached from stays unseeded."""
    import __spark_entry__ as E

    # edges user_id -> event_id % 150: 10 -> 3 and 10 -> 11, 3 -> nothing
    events = spark.createDataFrame(
        [(3, 10), (11, 10), (161, 10)], "event_id long, user_id long"
    )
    events.write.parquet(str(tmp_path / "events.parquet"))
    got = {r["node"]: r["depth"] for r in E.q_crawl_depth(spark, str(tmp_path)).collect()}
    assert got == {3: 0, 10: -1, 11: -1}


def test_passage_windows_overlap_tail_and_hash(spark):
    from crawler_spark.pipeline.packing import passage_windows

    toks_a = [f"t{i}" for i in range(10)]  # 10 tokens, size 4 stride 2
    rows = [(1, " ".join(toks_a)), (2, "one two"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = passage_windows(df, "doc_id", "text", size=4, stride=2).collect()
    a = sorted(
        [r for r in out if r["doc_id"] == 1], key=lambda r: r["passage_idx"]
    )
    # nw = 1 + ceil((10-4)/2) = 4 -> starts 0,2,4,6; last covers 6..9
    assert [r["start_tok"] for r in a] == [0, 2, 4, 6]
    assert [r["n_pass_tokens"] for r in a] == [4, 4, 4, 4]
    assert a[1]["passage_hash"] == py_md5h60("t2 t3 t4 t5")
    # short doc: single ragged window; empty doc: no rows
    b = [r for r in out if r["doc_id"] == 2]
    assert len(b) == 1 and b[0]["n_pass_tokens"] == 2
    assert b[0]["passage_hash"] == py_md5h60("one two")
    assert not [r for r in out if r["doc_id"] == 3]


@pytest.mark.parametrize("size,stride", [(2, 4), (4, 0)])
def test_passage_windows_rejects_bad_stride(spark, size, stride):
    """A stride outside (0, size] raises: n=3, size=2, stride=4 used to emit
    an empty trailing window."""
    from crawler_spark.pipeline.packing import passage_windows

    df = spark.createDataFrame([(1, "t0 t1 t2")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="stride"):
        passage_windows(df, "doc_id", "text", size=size, stride=stride)
