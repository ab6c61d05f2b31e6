"""Training-data pipeline operators: dedup family, similarity search,
text analysis, chunking, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sharepointcrawler_spark.functions.textanalysis import (
    bpe_ish_count,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from sharepointcrawler_spark.operators.chunking import chunk_text, chunk_tokens
from sharepointcrawler_spark.operators.corpus import (
    dedup_keep_first,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup,
    simhash_pairs,
)
from sharepointcrawler_spark.operators.multimodal import (
    decode_images,
    frame_sample,
    make_fake_image,
    resize_array,
    resize_images,
)
from sharepointcrawler_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick  brown fox Jumps over the lazy dog near the river bank today"),  # exact dup after norm
        (2, "The quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
        (3, "Completely different content about spark clusters and shuffle partitions"),
        (4, "Der schnelle braune Fuchs springt und der Hund ist nicht da"),
        (5, "Le renard brun et rapide saute et le chien est las"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    d = exact_dedup(docs)
    dup_groups = d.filter(F.col("n_dupes") > 1).collect()
    assert len(dup_groups) == 1
    assert dup_groups[0].keep_id == 0 and dup_groups[0].n_dupes == 2
    kept = dedup_keep_first(docs)
    assert kept.count() == 6
    assert kept.filter("doc_id = 1").count() == 0


def test_jaccard_pairs(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical after norm
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in pairs


def test_minhash_lsh_dedup(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs
    assert (0, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_pairs(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert (0, 1) in pairs or (0, 2) in pairs  # near-identical docs collide
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_text_analysis(spark, docs):
    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            token_count("text").alias("toks"),
            bpe_ish_count("text").alias("bpe"),
            lang_id("text").alias("lang"),
            quality_score("text").alias("q"),
            doc_fingerprint("text").alias("fp"),
        ).collect()
    }
    assert out[0].toks == 14
    assert out[6].toks == 0
    assert out[0].lang == "en"
    assert out[4].lang == "de"
    assert out[5].lang == "fr"
    assert out[0].q > out[6].q
    assert out[0].fp == out[1].fp  # normalization collapses case/space
    assert out[0].bpe >= out[0].toks


def test_chunking(spark):
    df = spark.createDataFrame([(1, "abcdefghij" * 10)], "doc_id long, text string")  # 100 chars
    chunks = chunk_text(df, chunk_size=40, overlap=10).orderBy("chunk_index").collect()
    # stride 30: starts 0,30,60,90 -> ceil((100-10)/30)=3 -> starts 0,30,60
    assert [c.chunk_index for c in chunks] == [0, 1, 2]
    assert chunks[0].chunk == ("abcdefghij" * 10)[0:40]
    assert chunks[1].chunk == ("abcdefghij" * 10)[30:70]
    assert chunks[2].chunk == ("abcdefghij" * 10)[60:100]
    # overlap property
    assert chunks[0].chunk[-10:] == chunks[1].chunk[:10]

    tok_df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20)))], "doc_id long, text string"
    )
    tchunks = chunk_tokens(tok_df, chunk_tokens_n=8, overlap_tokens=3).orderBy("chunk_index").collect()
    assert tchunks[0].chunk.split()[:3] == ["w0", "w1", "w2"]
    assert tchunks[1].chunk.split()[0] == "w5"  # stride 5
    assert tchunks[-1].chunk.split()[-1] == "w19"


def test_brute_force_and_lsh_topk(spark):
    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((100, 16)).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [float(x) for x in vecs[7]])], "query_id long, query_vec array<float>"
    )
    exact = brute_force_topk(corpus, queries, k=5).orderBy("rank").collect()
    assert exact[0].vec_id == 7 and abs(exact[0].score - 1.0) < 1e-6
    assert len(exact) == 5
    # LSH with few planes: query's own vector shares its bucket -> rank 1 found
    approx = lsh_topk(corpus, queries, k=5, dim=16, n_planes=4).orderBy("rank").collect()
    assert approx[0].vec_id == 7


def test_embedding_near_dup(spark):
    rng = np.random.default_rng(1)
    base = rng.standard_normal(16).astype("float32")
    near = base + rng.standard_normal(16).astype("float32") * 0.01
    far = rng.standard_normal(16).astype("float32")
    corpus = spark.createDataFrame(
        [(0, [float(x) for x in base]), (1, [float(x) for x in near]), (2, [float(x) for x in far])],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(corpus, threshold=0.98, dim=16).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_multimodal_plumbing(spark):
    blobs = [
        (0, make_fake_image(64, 48, 3, seed=0)),
        (1, make_fake_image(640, 480, 1, seed=1)),
        (2, b"not an image"),
    ]
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    meta = {r.doc_id: r for r in decode_images(df).collect()}
    assert (meta[0].width, meta[0].height, meta[0].channels) == (64, 48, 3)
    assert (meta[1].width, meta[1].height) == (640, 480)
    assert meta[2].width is None and meta[2].n_bytes == 12
    assert len(meta[0].feature) == 8
    # deterministic: same blob -> same feature
    meta2 = {r.doc_id: r for r in decode_images(df).collect()}
    assert meta[0].feature == meta2[0].feature

    # real resize rejects the fake SIMG dialect (NULL, flagged) — only
    # PNG/JPEG blobs are resizable; real-codec coverage lives in
    # test_resize_real_codecs
    resized = {r.doc_id: r for r in decode_images(
        resize_images(df, 32, 32)
    ).collect()}
    assert resized[0].width is None and resized[2].width is None

    video = spark.createDataFrame(
        [(9, b"".join(make_fake_image(8, 8, 3, seed=s) for s in range(6)))],
        "doc_id long, blob binary",
    )
    frames = frame_sample(video, every_n=2).collect()
    assert [f.frame_idx for f in frames] == [0, 2, 4]


def test_ivf_topk_recall_vs_exact(spark):
    """IVF (spherical k-means cells + n_probe) finds the exact top-1 for
    in-corpus queries and has decent top-5 recall on the fixture."""
    from sharepointcrawler_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = train_ivf_centroids(emb, n_centroids=8, seed=7)
    assert centroids.shape == (8, 64)
    queries = emb.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, centroids, k=5, n_probe=3).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_top1 = {r.query_id: r.vec_id for r in approx if r.rank == 1}
    # an in-corpus query's own cell is always probed -> top-1 is itself
    assert approx_top1 == {q: q for q in range(8)}
    hits = sum(
        1 for r in approx if r.vec_id in exact_sets[r.query_id]
    )
    assert hits / (5 * 8) >= 0.5  # n_probe=3 of 8 cells on random vectors


def test_lsh_multiband_recall_dominates_single_band(spark):
    """OR-amplification: n_bands independent hyperplane tables can only
    ADD candidates, so multiband top-k recall >= single-band recall."""
    from sharepointcrawler_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        lsh_topk_multiband,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(rows):
        return sum(1 for r in rows if r.vec_id in exact_sets[r.query_id]) / (5 * 8)

    single = recall(lsh_topk(emb, queries, k=5, dim=64, n_planes=8).collect())
    multi = recall(
        lsh_topk_multiband(emb, queries, k=5, dim=64, n_planes=8, n_bands=4).collect()
    )
    assert multi >= single
    # every query finds at least itself (same bucket in every band)
    top1 = {r.query_id: r.vec_id for r in
            lsh_topk_multiband(emb, queries, k=5, dim=64, n_planes=8, n_bands=4).collect()
            if r.rank == 1}
    assert top1 == {q: q for q in range(8)}


# ------------------------------------------- real PNG decode (round 4)


def test_png_round_trip_all_filters():
    """write_png with cycling per-row filters (None/Sub/Up/Average/
    Paeth) must decode back to the exact pixel array — the unfilter
    logic is proven for every filter type, both channel counts."""
    import numpy as np

    from sharepointcrawler_spark.operators.multimodal import decode_png, write_png

    rng = np.random.default_rng(11)
    for ch in (1, 3):
        px = rng.integers(0, 256, size=(9, 7, ch), dtype=np.uint8)
        for mode in ("cycle", "none"):
            w, h, c, got = decode_png(write_png(px, filter_mode=mode))
            assert (w, h, c) == (7, 9, ch)
            assert np.array_equal(got, px)


def test_png_adam7_interlace_round_trips():
    """Adam7-interlaced PNG: seven independently filtered sub-images
    placed on the pass grid — exact round trips across shapes (incl.
    degenerate 1x1/2x3 where most passes are empty), channels, and
    filter modes; truncated interlaced data is flagged."""
    import numpy as np
    import pytest as _pytest

    from sharepointcrawler_spark.operators.multimodal import (
        decode_png,
        write_png_interlaced,
    )

    rng = np.random.default_rng(9)
    for shape in ((1, 1), (2, 3), (7, 13), (16, 17), (37, 53)):
        for ch in (1, 3):
            px = rng.integers(0, 256, (*shape, ch), dtype=np.uint8)
            for fm in ("cycle", "none"):
                w, h, c, got = decode_png(write_png_interlaced(px, fm))
                assert (w, h, c) == (shape[1], shape[0], ch)
                assert np.array_equal(got, px), (shape, ch, fm)
    # truncated pass data is flagged, never partially decoded
    import zlib as _zlib

    blob = write_png_interlaced(rng.integers(0, 256, (16, 16, 3), dtype=np.uint8))
    i = blob.index(b"IDAT")
    # rebuild the IDAT with the last 10 raw bytes cut
    import struct as _struct

    (ln,) = _struct.unpack(">I", blob[i - 4 : i])
    raw = _zlib.decompress(blob[i + 4 : i + 4 + ln])
    from sharepointcrawler_spark.operators.multimodal import _chunk

    cut = _chunk(b"IDAT", _zlib.compress(raw[:-10]))
    bad = blob[: i - 4] + cut + blob[i + 8 + ln :]
    with _pytest.raises(ValueError, match="interlaced data length"):
        decode_png(bad)


def test_png_unsupported_constructs_flagged():
    """16-bit / bad-interlace-method / PLTE-less-palette PNGs raise
    (flag, never garbage); decode_images turns the flag into NULL
    metadata, not a crash. (Well-formed palette and Adam7-interlaced
    PNGs decode since round 5.)"""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from sharepointcrawler_spark.operators.multimodal import (
        PNG_SIG,
        _chunk,
        decode_png,
        write_png,
    )

    def ihdr(w, h, depth, ctype, interlace=0):
        return _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace))

    base_idat = _chunk(b"IDAT", zlib.compress(b"\x00\x00"))
    for bad, msg in (
        (PNG_SIG + ihdr(1, 1, 16, 0) + base_idat, "bit depth"),
        (PNG_SIG + ihdr(1, 1, 8, 3) + base_idat, "missing/malformed PLTE"),
        (PNG_SIG + ihdr(1, 1, 8, 0, interlace=2) + base_idat, "interlace method"),
        (b"NOTPNG", "signature"),
    ):
        with _pytest.raises(ValueError, match=msg):
            decode_png(bad)
    # sane file still decodes after the negative cases
    px = np.zeros((2, 2, 1), dtype=np.uint8)
    assert decode_png(write_png(px))[3].shape == (2, 2, 1)


def test_decode_images_dispatches_png_and_simg(spark):
    """The shared decode_images entry point routes real PNG bytes to the
    real decoder (feature = per-channel mean/std) and SIMG blobs to the
    stub path; junk yields NULL metadata rows."""
    import numpy as np

    from sharepointcrawler_spark.operators.multimodal import (
        decode_images,
        make_fake_image,
        write_png,
    )

    px = np.full((4, 5, 3), 7, dtype=np.uint8)
    rows = [
        (1, bytearray(write_png(px))),
        (2, bytearray(make_fake_image(10, 8, 3, seed=2))),
        (3, bytearray(b"garbage-bytes")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r.doc_id: r for r in decode_images(df).collect()}
    assert (got[1].width, got[1].height, got[1].channels) == (5, 4, 3)
    assert got[1].feature[:3] == [7.0, 7.0, 7.0]  # per-channel mean
    assert got[1].feature[3:] == [0.0, 0.0, 0.0]  # per-channel std
    assert (got[2].width, got[2].height, got[2].channels) == (10, 8, 3)
    assert got[3].width is None and got[3].feature is None


# ------------------------------- char-trigram lang-ID (round 4)


def test_lang_id_ngram_clear_sentences_and_disagreement(spark):
    """On clearly-in-language sentences the Cavnar–Trenkle backend and
    the 5-marker heuristic agree and are both correct; on the synthetic
    documents fixture (shared database-jargon vocabulary — weak signal)
    the two backends are measured for disagreement, which must be
    bounded away from 'always disagree' and produce only valid labels."""
    from pyspark.sql import functions as F

    from sharepointcrawler_spark.functions.textanalysis import (
        LANG_SEED_TEXTS,
        lang_id,
        lang_id_ngram,
    )

    clear = [
        (0, "en", "The quick brown fox jumps over the lazy dog and the cat is here today"),
        (1, "de", "Der schnelle braune Fuchs springt über den faulen Hund und die Katze ist nicht hier"),
        (2, "fr", "Le renard brun saute par dessus le chien paresseux et les gens de la ville sont la"),
        (3, "es", "El rapido zorro salta sobre el perro perezoso y la gente del mundo es una maravilla"),
    ]
    # ngram-only languages (the marker gate stays the cheap 4-language
    # heuristic; the trigram backend separates even the es/pt/it trio)
    ngram_only = [
        (4, "it", "La rapida volpe salta sopra il cane pigro e la gente della citta e molto felice di questo giorno"),
        (5, "pt", "A rapida raposa salta sobre o cao preguicoso e as pessoas da cidade estao muito felizes com o dia"),
        (6, "nl", "De snelle bruine vos springt over de luie hond en de mensen van de stad zijn erg blij met deze dag"),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, _, t in clear + ngram_only], "doc_id long, text string"
    )
    ng = {r.doc_id: r.lang_pred for r in lang_id_ngram(docs).collect()}
    mk = {
        r.doc_id: r.m
        for r in docs.select("doc_id", lang_id("text").alias("m")).collect()
    }
    for i, want, _ in clear:
        assert ng[i] == want, f"ngram backend wrong on clear {want}"
        assert mk[i] == want, f"marker backend wrong on clear {want}"
    for i, want, _ in ngram_only:
        assert ng[i] == want, f"ngram backend wrong on clear {want}"

    fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    both = (
        lang_id_ngram(fixture)
        .join(fixture.select("doc_id", lang_id("text").alias("marker_pred")), "doc_id")
    )
    rows = both.select(
        F.avg((F.col("lang_pred") != F.col("marker_pred")).cast("double")).alias("dis"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert rows.n == 500
    assert 0.0 <= rows.dis < 0.9, f"backends disagree on {rows.dis:.0%} of the fixture"
    valid = set(LANG_SEED_TEXTS) | {"und"}
    got_labels = {r.lang_pred for r in both.select("lang_pred").distinct().collect()}
    assert got_labels <= valid


def test_lang_id_ngram_udf_matches_exchange_formulation(spark):
    """The zero-shuffle Arrow-UDF path (round 7) must agree label-for-
    label with the exchange formulation `_lang_id_ngram_exchange` (the
    operator-for-operator mirror of the DuckDB oracle SQL) on the
    fixture corpus AND on adversarial inputs: null/empty text,
    no-letter text, 1-2-char docs (sub-trigram after padding they still
    yield trigrams), unicode casing (normalization stays JVM-side),
    heavy ties (count ties break by trigram asc; distance ties by
    language order)."""
    from sharepointcrawler_spark.functions.textanalysis import (
        _lang_id_ngram_exchange,
        lang_id_ngram,
    )

    fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    adversarial = spark.createDataFrame(
        [
            (1000, None),
            (1001, ""),
            (1002, "123 456 !!!"),
            (1003, "a"),
            (1004, "ab"),
            (1005, "ÜBER Straße ĳsselmeer İstanbul"),
            (1006, "the the the and and of"),
            (1007, " x  y\tz\n"),
            (1008, "aaa aab aac aad " * 40),  # count ties -> tri asc
        ],
        "doc_id long, text string",
    )
    for docs in (fixture, adversarial):
        new = {r.doc_id: r.lang_pred for r in lang_id_ngram(docs).collect()}
        old = {r.doc_id: r.lang_pred for r in _lang_id_ngram_exchange(docs).collect()}
        assert new == old


def test_lang_ngram_udf_zero_trigrams_is_und(spark):
    """The UDF standalone: a non-null string too short to hold a
    trigram carries no evidence and predicts 'und', like a null —
    never the first language (lang_id_ngram itself always pads)."""
    from sharepointcrawler_spark.functions.textanalysis import lang_ngram_predict_udf

    df = spark.createDataFrame([("ab",), (None,), (" the ",)], "p string")
    got = [r.lang for r in df.select(lang_ngram_predict_udf()("p").alias("lang")).collect()]
    assert got == ["und", "und", "en"]


# ---------------------------- production hash fast path (round 4)


def test_dedup_results_under_hash_backend(spark):
    """portable=False swaps every md5-derived key for native xxhash64
    (the production fast path). What is EXACTLY hash-invariant must stay
    identical: span duplication stats (the hash only keys equality
    counting) and verified jaccard scores of shared candidate pairs;
    exact duplicates must be found under either backend (identical text
    collides in every band / has hamming 0 under ANY hash). Candidate
    RECALL for near (non-exact) pairs is probabilistic in the hash by
    construction (minhash band collisions, simhash bit votes) — that is
    the documented semantics, not a backend bug."""
    from sharepointcrawler_spark.operators.corpus import (
        duplicated_window_stats,
        minhash_lsh_dedup,
        simhash_pairs,
    )

    rows = [
        (0, "The quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick  brown fox Jumps over the lazy dog near the river bank today"),
        (2, "The quick brown fox jumps over the lazy dog near the river bank tonight"),
        (3, "Completely different content about spark clusters and shuffle partitions"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact_dupes = {(0, 1), (0, 4), (1, 4)}  # identical after normalization

    mh = {
        p: {(r.id_a, r.id_b): r.jaccard
            for r in minhash_lsh_dedup(docs, threshold=0.6, portable=p).collect()}
        for p in (True, False)
    }
    for p in (True, False):
        assert exact_dupes <= set(mh[p]), f"exact dupes missed (portable={p})"
        assert all(mh[p][e] == 1.0 for e in exact_dupes)
    shared = set(mh[True]) & set(mh[False])
    assert all(mh[True][k] == mh[False][k] for k in shared)  # scores invariant

    for p in (True, False):
        sh = {(r.id_a, r.id_b): r.hamming
              for r in simhash_pairs(docs, max_hamming=3, portable=p).collect()}
        assert exact_dupes <= set(sh)
        assert all(sh[e] == 0 for e in exact_dupes)

    sp = lambda p: sorted(
        (r.doc_id, r.n_windows, r.n_dup_windows)
        for r in duplicated_window_stats(docs, 30, portable=p).collect()
    )
    assert sp(True) == sp(False)


# -------------------------------------- real JPEG decode (round 4)


def test_jpeg_round_trip_quality_and_determinism():
    """Baseline JPEG: decode(encode(x)) is deterministic; flat blocks
    at q75 survive EXACTLY (DC quantizer 8 divides 8*(c-128)); smooth
    content reconstructs above a PSNR floor for 1- and 3-channel."""
    import numpy as np

    from sharepointcrawler_spark.operators.jpeg import decode_jpeg, is_jpeg, write_jpeg

    for c in (0, 37, 136, 255):
        px = np.full((11, 19), c, dtype=np.uint8)
        blob = write_jpeg(px, 75)
        assert is_jpeg(blob)
        w, h, ch, got = decode_jpeg(blob)
        assert (w, h, ch) == (19, 11, 1)
        assert np.array_equal(got[:, :, 0], px)

    x = np.linspace(0, 255, 64)
    grad = (x[None, :] * np.ones((48, 1))).astype(np.uint8)
    _, _, _, got = decode_jpeg(write_jpeg(grad, 90))
    mse = float(np.mean((got[:, :, 0].astype(float) - grad.astype(float)) ** 2))
    assert 10 * np.log10(255**2 / max(mse, 1e-9)) > 35

    rng = np.random.default_rng(1)
    rgb = np.kron(
        rng.integers(0, 256, size=(4, 5, 3)), np.ones((8, 8, 1))
    ).astype(np.uint8)
    _, _, ch, got = decode_jpeg(write_jpeg(rgb, 90))
    assert ch == 3
    mse = float(np.mean((got.astype(float) - rgb.astype(float)) ** 2))
    assert 10 * np.log10(255**2 / max(mse, 1e-9)) > 30
    # decode is a pure function of the bytes
    assert (
        decode_jpeg(write_jpeg(rgb, 60))[3].tobytes()
        == decode_jpeg(write_jpeg(rgb, 60))[3].tobytes()
    )


def test_png_palette_round_trips_and_trns_alpha():
    """Indexed-color PNG (type 3): exact round trips at every bit depth
    (filters run over PACKED bytes) and every filter mode; a tRNS chunk
    yields faithful RGBA (entries past the chunk opaque per spec);
    out-of-range indices and oversize tRNS are flagged."""
    import numpy as np
    import pytest as _pytest

    from sharepointcrawler_spark.operators.multimodal import (
        _chunk,
        decode_png,
        write_png_palette,
    )

    rng = np.random.default_rng(3)
    for depth in (1, 2, 4, 8):
        n = 1 << depth
        pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        for shape in ((7, 13), (16, 16), (5, 3)):
            idx = rng.integers(0, n, shape, dtype=np.uint8)
            for fm in ("cycle", "none"):
                w, h, ch, px = decode_png(write_png_palette(idx, pal, depth, fm))
                assert (w, h, ch) == (shape[1], shape[0], 3)
                assert np.array_equal(px, pal[idx]), (depth, shape, fm)

    # tRNS: RGBA output, partial chunk -> remaining entries opaque
    pal4 = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    idx4 = np.arange(4, dtype=np.uint8).reshape(2, 2)
    blob = write_png_palette(idx4, pal4, 8)
    i = blob.index(b"IDAT") - 4
    rgba_blob = blob[:i] + _chunk(b"tRNS", bytes([10, 200])) + blob[i:]
    w, h, ch, px = decode_png(rgba_blob)
    assert ch == 4
    assert np.array_equal(px[:, :, :3], pal4[idx4])
    assert px[0, 0, 3] == 10 and px[0, 1, 3] == 200
    assert px[1, 0, 3] == 255 and px[1, 1, 3] == 255  # opaque past chunk
    # oversize tRNS flagged
    with _pytest.raises(ValueError, match="tRNS longer"):
        decode_png(blob[:i] + _chunk(b"tRNS", bytes(5)) + blob[i:])
    # an index past the palette is flagged, not wrapped
    short_pal = blob.replace(_chunk(b"PLTE", bytes(6)), _chunk(b"PLTE", bytes(3)))
    decode_png(short_pal)  # all-zero indices still fine with 1 entry
    blob2 = write_png_palette(
        np.full((2, 2), 3, dtype=np.uint8), np.zeros((4, 3), dtype=np.uint8), 8
    ).replace(_chunk(b"PLTE", bytes(12)), _chunk(b"PLTE", bytes(6)))
    with _pytest.raises(ValueError, match="index out of range"):
        decode_png(blob2)


def test_resize_array_box_and_bilinear():
    """Integer-ratio downscale is the EXACT integer box filter (cell
    sum // n); non-integer ratios use bilinear. Flat stays flat in both
    modes; upscale of a step edge is monotone."""
    import numpy as np

    from sharepointcrawler_spark.operators.multimodal import resize_array

    # exact box semantics on a known pattern
    px = np.arange(48, dtype=np.uint8).reshape(4, 12)
    got = resize_array(px, 6, 2)
    want = px.astype(np.int64).reshape(2, 2, 6, 2).sum(axis=(1, 3)) // 4
    assert np.array_equal(got[:, :, 0], want.astype(np.uint8))
    # flat invariance: box (16 -> 4) and bilinear (16 -> 7, 10 -> 25)
    for tw, th in ((4, 4), (7, 7), (25, 25)):
        flat = np.full((16, 16, 3), 77, dtype=np.uint8)
        assert np.all(resize_array(flat, tw, th) == 77), (tw, th)
    # bilinear upscale of a horizontal step: rows constant, cols monotone
    step = np.zeros((8, 8), dtype=np.uint8)
    step[:, 4:] = 200
    up = resize_array(step, 19, 9)[:, :, 0]
    assert np.all(up[0] == up[-1])
    assert np.all(np.diff(up[0].astype(int)) >= 0)
    assert up[0, 0] == 0 and up[0, -1] == 200


def test_resize_real_codecs(spark):
    """resize_images: PNG and JPEG blobs decode -> resize -> re-encode
    PNG; the stats path sees exactly the resized pixels. Undecodable
    blobs become NULL (flagged), never wrong-size passthrough."""
    import numpy as np

    from sharepointcrawler_spark.operators.jpeg import write_jpeg
    from sharepointcrawler_spark.operators.multimodal import (
        decode_png_stats,
        resize_array,
        resize_images,
        synth_resize_pattern,
        write_png,
    )

    png_px = synth_resize_pattern(2)
    jpg_px = np.full((8, 12, 3), 136, dtype=np.uint8)  # flat -> exact thru JPEG
    df = spark.createDataFrame(
        [
            (0, bytearray(write_png(png_px))),
            (1, bytearray(write_jpeg(jpg_px, 75, subsampling="420"))),
            (2, bytearray(b"garbage bytes")),
        ],
        "doc_id long, blob binary",
    )
    stats = {
        r.doc_id: r
        for r in decode_png_stats(resize_images(df, 6, 4)).collect()
    }
    want_png = resize_array(png_px, 6, 4)
    assert (stats[0].width, stats[0].height, stats[0].channels) == (6, 4, 3)
    assert stats[0].pixel_sum == int(want_png.astype(np.int64).sum())
    assert (stats[1].width, stats[1].height) == (6, 4)
    assert stats[1].pixel_sum == 6 * 4 * 3 * 136  # flat survives JPEG+box exactly
    assert stats[2].width is None


def test_jpeg_chroma_subsampling_round_trips():
    """4:2:0 (2x2-luma MCUs) and 4:2:2 — the dominant real-photo
    shapes: flat gray RGB survives EXACTLY in every mode (Y=c, Cb=Cr=
    128 so chroma DC=0; box downsample / replication upsample of flat
    are flat), and smooth color content reconstructs above a PSNR
    floor at odd (non-MCU-aligned) sizes."""
    import numpy as np

    from sharepointcrawler_spark.operators.jpeg import decode_jpeg, write_jpeg

    for mode in ("420", "422", "444"):
        for c in (0, 37, 136, 255):
            px = np.full((11, 19, 3), c, dtype=np.uint8)
            w, h, ch, got = decode_jpeg(write_jpeg(px, 75, subsampling=mode))
            assert (w, h, ch) == (19, 11, 3)
            assert np.array_equal(got, px), (mode, c)

    yy, xx = np.mgrid[0:37, 0:53]
    img = np.stack(
        [(xx * 4) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], axis=2
    ).astype(np.uint8)
    for mode, floor in (("420", 30), ("422", 32)):
        _, _, _, got = decode_jpeg(write_jpeg(img, 90, subsampling=mode))
        mse = float(np.mean((got.astype(float) - img.astype(float)) ** 2))
        assert 10 * np.log10(255**2 / max(mse, 1e-9)) > floor, mode
    # subsampled MCU interleave is deterministic too
    b = write_jpeg(img, 80, subsampling="420")
    assert decode_jpeg(b)[3].tobytes() == decode_jpeg(b)[3].tobytes()


def test_jpeg_progressive_decodes_bit_identical_to_baseline():
    """SOF2 progressive decode (spectral selection + successive
    approximation + DC/AC refinement + EOBRUN): progressive encoding
    only reorders coefficient BITS, so decoding it must produce pixels
    bit-identical to decoding the baseline encoding of the same image —
    across gray/444/422/420, flat/gradient/random content, and
    qualities. Any scan-accumulation bug breaks the equality."""
    import numpy as np

    from sharepointcrawler_spark.operators.jpeg import (
        decode_jpeg,
        write_jpeg,
        write_jpeg_progressive,
    )

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:37, 0:53]
    grad = np.stack(
        [(xx * 4) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], axis=2
    ).astype(np.uint8)
    images = [
        np.full((24, 40, 3), 136, dtype=np.uint8),
        grad,
        rng.integers(0, 256, (29, 31, 3), dtype=np.uint8),
        rng.integers(0, 256, (17, 23), dtype=np.uint8),  # grayscale
        np.zeros((8, 8), dtype=np.uint8),  # all-EOB blocks (EOBRUN path)
    ]
    for img in images:
        for mode in ("444", "422", "420") if img.ndim == 3 else ("444",):
            for q in (50, 90):
                blob = write_jpeg_progressive(img, q, subsampling=mode)
                assert b"\xff\xc2" in blob
                base = decode_jpeg(write_jpeg(img, q, subsampling=mode))
                prog = decode_jpeg(blob)
                assert base[:3] == prog[:3]
                assert np.array_equal(base[3], prog[3]), (img.shape, mode, q)


def test_jpeg_unsupported_constructs_flagged():
    """Non-baseline SOF types / restart intervals / malformed
    progressive scan scripts are flagged (ValueError), never silently
    mis-decoded."""
    import struct

    import numpy as np
    import pytest as _pytest

    from sharepointcrawler_spark.operators.jpeg import decode_jpeg, write_jpeg

    good = bytearray(write_jpeg(np.zeros((8, 8), dtype=np.uint8), 75))
    # flip SOF0 -> SOF2: the sequential full-band scan is an illegal
    # progressive scan script (DC scan must have Se=0) — flagged, not
    # desync-decoded
    sof = good.find(b"\xff\xc0")
    prog = bytes(good[:sof + 1]) + b"\xc2" + bytes(good[sof + 2:])
    with _pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(prog)
    # SOF1 (extended sequential) stays flagged
    sof1 = bytes(good[:sof + 1]) + b"\xc1" + bytes(good[sof + 2:])
    with _pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg(sof1)
    # a DRI promising restarts the stream doesn't contain is flagged
    multi = bytearray(write_jpeg(np.zeros((8, 24), dtype=np.uint8), 75))
    lying_dri = (
        bytes(multi[:2]) + b"\xff\xdd" + struct.pack(">HH", 4, 1) + bytes(multi[2:])
    )
    with _pytest.raises(ValueError, match="missing JPEG restart marker"):
        decode_jpeg(lying_dri)
    # restart intervals in progressive scans stay flagged
    from sharepointcrawler_spark.operators.jpeg import write_jpeg_progressive

    pblob = bytearray(write_jpeg_progressive(np.zeros((8, 8), dtype=np.uint8), 75))
    pdri = (
        bytes(pblob[:2]) + b"\xff\xdd" + struct.pack(">HH", 4, 16) + bytes(pblob[2:])
    )
    with _pytest.raises(ValueError, match="progressive scans unsupported"):
        decode_jpeg(pdri)
    with _pytest.raises(ValueError, match="signature"):
        decode_jpeg(b"NOTAJPEG")
    # sanity: the unmodified stream still decodes
    assert decode_jpeg(bytes(good))[3].shape == (8, 8, 1)


def test_jpeg_restart_intervals_round_trip():
    """DRI/RSTn (camera-JPEG resilience): encoder emits byte-aligned
    RSTn markers with DC-predictor resets every N MCUs; the decode is
    pixel-identical to the no-restart encoding of the same image."""
    import numpy as np

    from sharepointcrawler_spark.operators.jpeg import decode_jpeg, write_jpeg

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)
    plain = decode_jpeg(write_jpeg(img, 85, subsampling="420"))[3]
    for ri in (1, 3, 7):
        blob = write_jpeg(img, 85, subsampling="420", restart_interval=ri)
        assert b"\xff\xdd" in blob and b"\xff\xd0" in blob
        assert np.array_equal(decode_jpeg(blob)[3], plain), ri
    # flat exactness survives restarts too
    flat = np.full((24, 40, 3), 136, dtype=np.uint8)
    got = decode_jpeg(write_jpeg(flat, 75, subsampling="422", restart_interval=2))[3]
    assert np.array_equal(got, flat)


def test_decode_images_dispatches_jpeg(spark):
    import numpy as np

    from sharepointcrawler_spark.operators.jpeg import write_jpeg
    from sharepointcrawler_spark.operators.multimodal import decode_images

    px = np.full((8, 16), 136, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(write_jpeg(px, 75)))], "doc_id long, blob binary"
    )
    r = decode_images(df).collect()[0]
    assert (r.width, r.height, r.channels) == (16, 8, 1)
    assert r.feature[0] == 136.0 and r.feature[1] == 0.0  # mean/std of flat


def test_mjpeg_frame_sampling_yields_decodable_frames(spark):
    """A video blob of concatenated REAL JPEGs: every sampled frame is
    itself a decodable image — frame sampling feeds decode_images
    end-to-end with genuine bytes, not stub markers."""
    import numpy as np

    from sharepointcrawler_spark.operators.jpeg import write_jpeg
    from sharepointcrawler_spark.operators.multimodal import (
        decode_images,
        frame_sample,
    )

    frames = [
        write_jpeg(np.full((8, 8), 128 + 8 * k, dtype=np.uint8), 75)
        for k in range(6)
    ]
    video = spark.createDataFrame(
        [(9, bytearray(b"".join(frames)))], "doc_id long, blob binary"
    )
    sampled = frame_sample(video, every_n=2).collect()
    assert [f.frame_idx for f in sampled] == [0, 2, 4]
    assert [bytes(f.frame) for f in sampled] == [frames[0], frames[2], frames[4]]
    fdf = spark.createDataFrame(
        [(f.frame_idx, f.frame) for f in sampled], "doc_id long, blob binary"
    )
    meta = {r.doc_id: r for r in decode_images(fdf).collect()}
    for k in (0, 2, 4):
        assert (meta[k].width, meta[k].height, meta[k].channels) == (8, 8, 1)
        assert meta[k].feature[0] == float(128 + 8 * k)  # flat mean exact


def test_wav_depth_variants_round_trip():
    """WAV beyond PCM-16: 8-bit (unsigned 128-centered), 24-bit
    (three-byte two's complement incl. both extremes), IEEE float32
    (format 3), and WAVE_FORMAT_EXTENSIBLE resolving through its
    SubFormat — all exact round trips; unknown depths stay flagged."""
    import struct

    import numpy as np
    import pytest as _pytest

    from sharepointcrawler_spark.operators.multimodal import decode_wav, write_wav

    rng = np.random.default_rng(4)
    s8 = rng.integers(-128, 127, (33, 1), dtype=np.int16)
    r, ch, got = decode_wav(write_wav(s8, 8000, bits=8))
    assert (r, ch) == (8000, 1) and got.dtype == np.int16
    assert np.array_equal(got, s8)

    s24 = np.array(
        [[-(1 << 23)], [(1 << 23) - 1], [0], [-1], [123456], [-654321]],
        dtype=np.int32,
    )
    r, ch, got = decode_wav(write_wav(s24, 48000, bits=24))
    assert got.dtype == np.int32 and np.array_equal(got, s24)

    f = rng.standard_normal((40, 2)).astype(np.float32)
    r, ch, got = decode_wav(write_wav(f, 44100))
    assert got.dtype == np.float32 and np.array_equal(got, f)

    # WAVE_FORMAT_EXTENSIBLE wrapping PCM-16
    s16 = rng.integers(-32768, 32767, (50, 2), dtype=np.int16)
    base = write_wav(s16, 22050)
    i = base.index(b"fmt ")
    guid = b"\x01\x00\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    ext = (
        struct.pack("<HHIIHH", 0xFFFE, 2, 22050, 22050 * 4, 4, 16)
        + struct.pack("<HHI", 22, 16, 3)
        + guid
    )
    blob = base[:i] + b"fmt " + struct.pack("<I", len(ext)) + ext + base[i + 8 + 16:]
    r, ch, got = decode_wav(blob)
    assert (r, ch) == (22050, 2) and np.array_equal(got, s16)

    with _pytest.raises(ValueError, match="bit depth"):
        decode_wav(write_wav(s16, 22050, bits=12))


def test_pq_compression_recall_and_determinism(spark):
    """Product quantization (the billion-vector memory lever): codes are
    m bytes per vector (32x under float32 at m=8/d=64); exact planted
    twins are always rank-1 (identical codes -> ADC argmax); jittered
    near-neighbor queries recover the exact top-1 in their PQ top-5 at
    high recall; encode+search is deterministic."""
    from pyspark.sql import functions as F

    from sharepointcrawler_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    assert books.shape == (8, 16, 8)
    codes = pq_encode(emb, books)
    row = codes.limit(1).collect()[0]
    assert len(bytes(row.pq_code)) == 8  # 64-dim float32 = 256 bytes -> 8

    twins = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 2.0
        ).alias("query_vec"),
    )
    top1 = {
        r.query_id: r.vec_id
        for r in pq_topk(codes, twins, books, k=3).filter("rank = 1").collect()
    }
    assert top1 == {1000000 + i: i for i in range(8)}

    jitter = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 500000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            * (
                F.lit(1.0)
                + F.lit(0.05)
                * (((F.col("vec_id") * 31 + i * 17) % 13 - 6).cast("double") / 6.0)
            ),
        ).alias("query_vec"),
    )
    exact1 = {
        r.query_id: r.vec_id
        for r in brute_force_topk(emb, jitter, k=1).filter("rank = 1").collect()
    }
    pq5: dict = {}
    for r in pq_topk(codes, jitter, books, k=5).collect():
        pq5.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(1 for q, v in exact1.items() if v in pq5.get(q, set()))
    assert hits >= 20, f"PQ recall@5 of exact top-1: {hits}/25"

    # determinism: same corpus + seed -> byte-identical codes
    again = {r.vec_id: bytes(r.pq_code) for r in pq_encode(emb, books).collect()}
    first = {r.vec_id: bytes(r.pq_code) for r in codes.collect()}
    assert again == first


def test_ivfpq_cell_pruning_and_recall(spark):
    """Composed IVF-PQ: the index table carries (cell, m-byte code);
    queries prune to their probe cells via a Catalyst IN filter and
    ADC-score only those. Twins are rank-1; recall of the exact top-1
    on jittered queries stays high; a query never returns a vector
    outside its probe cells."""
    import numpy as np
    from pyspark.sql import functions as F

    from sharepointcrawler_spark.operators.similarity import (
        _normalize_rows,
        brute_force_topk,
        ivfpq_encode,
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cts = train_ivf_centroids(emb, n_centroids=8, seed=7)
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    index = ivfpq_encode(emb, cts, books)
    assert index.columns == ["vec_id", "cell", "pq_code"]

    twins = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 2.0
        ).alias("query_vec"),
    )
    res = ivfpq_topk(index, twins, cts, books, k=5, n_probe=2)
    top1 = {r.query_id: r.vec_id for r in res.filter("rank = 1").collect()}
    assert top1 == {1000000 + i: i for i in range(8)}

    # probe-cell containment: every returned neighbor lives in one of
    # the query's n_probe cells
    cells = {r.vec_id: r.cell for r in index.collect()}
    qrows = twins.collect()
    qmat = _normalize_rows(
        np.array([r.query_vec for r in qrows], dtype=np.float64)
    )
    probes = np.argsort(-(qmat @ cts.T), axis=1)[:, :2]
    probe_of = {r.query_id: set(int(c) for c in p) for r, p in zip(qrows, probes)}
    for r in res.collect():
        assert cells[r.vec_id] in probe_of[r.query_id]

    jitter = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 500000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            * (
                F.lit(1.0)
                + F.lit(0.05)
                * (((F.col("vec_id") * 31 + i * 17) % 13 - 6).cast("double") / 6.0)
            ),
        ).alias("query_vec"),
    )
    exact1 = {
        r.query_id: r.vec_id
        for r in brute_force_topk(emb, jitter, k=1).filter("rank = 1").collect()
    }
    got5: dict = {}
    for r in ivfpq_topk(index, jitter, cts, books, k=5, n_probe=3).collect():
        got5.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(1 for q, v in exact1.items() if v in got5.get(q, set()))
    assert hits >= 18, f"IVF-PQ recall@5 of exact top-1: {hits}/25"


def test_ivfpq_residual_mode(spark):
    """Residual IVF-PQ (the FAISS default: quantize x - c_cell, score
    q.c_cell + LUT sum): exact twins stay rank-1, jittered recall stays
    high, and encode is deterministic. NOTE the honest caveat: on this
    near-uniform synthetic fixture the coarse quantizer removes little
    variance, so residual encoding does not beat non-residual here —
    the assertion is behavioral correctness, not superiority (which
    needs clustered real embeddings)."""
    from pyspark.sql import functions as F

    from sharepointcrawler_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_encode,
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cts = train_ivf_centroids(emb, n_centroids=8, seed=7)
    books = train_pq_codebooks(emb, m=8, n_codes=16, centroids=cts)
    index = ivfpq_encode(emb, cts, books, residual=True)

    twins = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 2.0
        ).alias("query_vec"),
    )
    top1 = {
        r.query_id: r.vec_id
        for r in ivfpq_topk(index, twins, cts, books, k=5, n_probe=2, residual=True)
        .filter("rank = 1")
        .collect()
    }
    assert top1 == {1000000 + i: i for i in range(8)}

    jitter = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 500000).alias("query_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x
            * (
                F.lit(1.0)
                + F.lit(0.05)
                * (((F.col("vec_id") * 31 + i * 17) % 13 - 6).cast("double") / 6.0)
            ),
        ).alias("query_vec"),
    )
    exact1 = {
        r.query_id: r.vec_id
        for r in brute_force_topk(emb, jitter, k=1).filter("rank = 1").collect()
    }
    got5: dict = {}
    for r in ivfpq_topk(
        index, jitter, cts, books, k=5, n_probe=3, residual=True
    ).collect():
        got5.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(1 for q, v in exact1.items() if v in got5.get(q, set()))
    assert hits >= 15, f"residual IVF-PQ recall@5: {hits}/20"

    # deterministic encode
    a = {r.vec_id: (r.cell, bytes(r.pq_code)) for r in index.collect()}
    b = {
        r.vec_id: (r.cell, bytes(r.pq_code))
        for r in ivfpq_encode(emb, cts, books, residual=True).collect()
    }
    assert a == b


def test_pq_code_table_mismatch_flagged(spark):
    """A codes table whose bytes do not match m (nulls, or codes built
    with different codebooks) fails loudly with the mismatch message,
    never silently mis-reshapes into wrong neighbors."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from sharepointcrawler_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    bad_codes = emb.select(
        "vec_id", F.lit(bytearray(b"\x00\x01\x02")).alias("pq_code")  # 3 != m
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 10).alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    with pytest.raises(PythonException, match="does not match m=8"):
        pq_topk(bad_codes, queries, books, k=3).collect()


def test_ivfpq_partition_pruning_on_cell(spark, tmp_path):
    """The 100 TB claim made concrete: an IVF-PQ index written
    partitionBy("cell") is scanned with the probe-set IN filter as a
    PARTITION filter — unprobed cells' files are never read (the scan's
    partition count equals the probed-cell count, not the cell
    count)."""
    from pyspark.sql import functions as F

    from sharepointcrawler_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cts = train_ivf_centroids(emb, n_centroids=8, seed=7)
    books = train_pq_codebooks(emb, m=8, n_codes=16)
    path = str(tmp_path / "ivfpq_index")
    ivfpq_encode(emb, cts, books).write.partitionBy("cell").parquet(path)
    index = spark.read.parquet(path)
    n_cells = index.select("cell").distinct().count()
    assert n_cells > 2

    queries = emb.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 10).alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    res = ivfpq_topk(index, queries, cts, books, k=3, n_probe=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # (long tmp paths get truncated in the plan string, so key on the
    # PartitionFilters clause itself, not the file location)
    scan = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "PartitionFilters" in ln and "pq_code" in ln
    ]
    assert scan, plan
    pf = scan[0].split("PartitionFilters: [")[1].split("]")[0]
    assert "cell#" in pf and " IN " in pf, pf
    # and the result is still correct over the pruned scan
    top1 = {r.query_id: r.vec_id for r in res.filter("rank = 1").collect()}
    assert top1 == {10: 0, 11: 1}
