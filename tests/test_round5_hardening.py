"""Round-5 hardening: ADVICE r4 fixes.

1. Corrupt blobs that pass the signature check must yield NULL-stat
   rows, not crash the Spark task (decoders raise zlib.error /
   struct.error / KeyError beyond ValueError).
3. IVF centroid training samples by hash order, so an id-correlated
   (content-sorted) corpus still trains a representative quantizer.
4. A Type0 font with CIDs missing from its ToUnicode CMap trips strict
   mode (no silent U+FFFD text).
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np
import pytest

from sharepointcrawler_spark.operators import multimodal as mm
from sharepointcrawler_spark.operators.jpeg import decode_jpeg, write_jpeg


# ------------------------------------------------ 1. corrupt blobs


def _valid_png() -> bytes:
    return mm.write_png(mm.synth_png_pattern(4))


def _png_bad_idat() -> bytes:
    """Valid signature + IHDR, IDAT payload is not deflate -> zlib.error."""
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    return (
        mm.PNG_SIG
        + mm._chunk(b"IHDR", ihdr)
        + mm._chunk(b"IDAT", b"\x00garbage-not-deflate")
        + mm._chunk(b"IEND", b"")
    )


def _png_short_ihdr() -> bytes:
    """IHDR payload shorter than 13 bytes -> struct.error."""
    return mm.PNG_SIG + mm._chunk(b"IHDR", b"\x00\x01") + mm._chunk(b"IEND", b"")


def _jpeg_short_sof() -> bytes:
    """SOF0 segment truncated to 4 bytes -> struct.error."""
    return b"\xff\xd8\xff\xc0" + struct.pack(">H", 6) + b"\x08\x00\x10\x00"


def _jpeg_no_dht() -> bytes:
    """A real JPEG with its DHT segments stripped -> KeyError at decode."""
    blob = write_jpeg(np.full((8, 8), 77, dtype=np.uint8), 75)
    out = bytearray(b"\xff\xd8")
    pos = 2
    while pos + 4 <= len(blob):
        marker = blob[pos + 1]
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        seg = blob[pos : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDA:
            out += seg + blob[pos:]
            return bytes(out)
        if marker != 0xC4:
            out += seg
    return bytes(out)


def _wav_short_fmt() -> bytes:
    """fmt chunk of 8 bytes (PCM needs 16) -> struct.error."""
    body = b"WAVE" + b"fmt " + struct.pack("<I", 8) + b"\x01\x00\x01\x00\x00\x00\x00\x00"
    body += b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_corrupt_blobs_raise_beyond_valueerror():
    """The raw decoders DO raise non-ValueError exceptions on these
    shapes — the premise of the broadened handler (if a future refactor
    converts them to ValueError, the Spark-side test still holds)."""
    with pytest.raises((zlib.error, ValueError)):
        mm.decode_png(_png_bad_idat())
    with pytest.raises((struct.error, ValueError)):
        mm.decode_png(_png_short_ihdr())
    with pytest.raises((struct.error, ValueError)):
        decode_jpeg(_jpeg_short_sof())
    with pytest.raises((KeyError, ValueError)):
        decode_jpeg(_jpeg_no_dht())
    with pytest.raises((struct.error, ValueError)):
        mm.decode_wav(_wav_short_fmt())


def test_corrupt_blobs_yield_null_rows_not_task_crash(spark):
    good_png = _valid_png()
    img_rows = [
        (1, good_png),
        (2, _png_bad_idat()),
        (3, _png_short_ihdr()),
        (4, _jpeg_short_sof()),
        (5, _jpeg_no_dht()),
    ]
    df = spark.createDataFrame(img_rows, "doc_id long, blob binary")
    out = {r.doc_id: r for r in mm.decode_images(df).collect()}
    assert out[1].width is not None and out[1].feature is not None
    for did in (2, 3, 4, 5):
        assert out[did].width is None and out[did].feature is None

    png_stats = {
        r.doc_id: r for r in mm.decode_png_stats(df.filter("doc_id <= 3")).collect()
    }
    assert png_stats[1].pixel_sum == int(mm.synth_png_pattern(4).astype(np.int64).sum())
    assert png_stats[2].pixel_sum is None and png_stats[3].pixel_sum is None

    jpeg_df = spark.createDataFrame(
        [(10, write_jpeg(np.full((8, 8), 40, dtype=np.uint8), 75)),
         (11, _jpeg_no_dht()), (12, _jpeg_short_sof())],
        "doc_id long, blob binary",
    )
    jpeg_stats = {r.doc_id: r for r in mm.decode_jpeg_stats(jpeg_df).collect()}
    assert jpeg_stats[10].pixel_sum == 8 * 8 * 40
    assert jpeg_stats[11].pixel_sum is None and jpeg_stats[12].pixel_sum is None

    wav_df = spark.createDataFrame(
        [(20, mm.write_wav(np.arange(16, dtype=np.int16))), (21, _wav_short_fmt())],
        "doc_id long, blob binary",
    )
    wav_stats = {r.doc_id: r for r in mm.decode_wav_stats(wav_df).collect()}
    assert wav_stats[20].sample_sum == int(np.arange(16).sum())
    assert wav_stats[21].sample_sum is None


# --------------------------------- 3. representative IVF sampling


def test_ivf_sampling_is_hash_ordered_not_id_ordered(spark):
    """Content-sorted corpus: ids 0..59 cluster around e1, ids 60..119
    around e2. With sample_size=60 a lowest-id sample sees ONLY cluster
    A; the hash-ordered sample must cover both (a centroid within
    cosine 0.9 of each cluster direction)."""
    from sharepointcrawler_spark.operators.similarity import train_ivf_centroids

    dim = 8
    rows = []
    for i in range(120):
        base = np.zeros(dim)
        base[0 if i < 60 else 1] = 1.0
        jit = np.array([((i * 31 + j * 17) % 13 - 6) / 60.0 for j in range(dim)])
        v = base + jit
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(
        corpus, n_centroids=4, n_iters=6, sample_size=60, seed=7
    )
    for axis in (0, 1):
        direction = np.zeros(dim)
        direction[axis] = 1.0
        best = float((cents @ direction).max())
        assert best > 0.9, f"cluster on axis {axis} uncovered (best cos {best:.3f})"


# --------------------------- 4. Type0 partially-mapped ToUnicode


def test_type0_missing_cids_trip_strict_mode():
    from sharepointcrawler_spark.extraction.pdfwords import (
        HELVETICA,
        UnsupportedPdfError,
        layout_words,
        parse_pdf_word_pages,
        write_pdf_type0,
    )

    text = "Alpha beta gamma\n\nDelta epsilon zeta eta theta"
    pages, heights = layout_words(text, font=HELVETICA)
    pdf = write_pdf_type0(pages, heights, HELVETICA, omit_cmap_chars=frozenset("ae"))

    with pytest.raises(UnsupportedPdfError) as ei:
        parse_pdf_word_pages(pdf, strict=True)
    assert any("missing from ToUnicode" in s for s in ei.value.issues)

    # non-strict still extracts, with the documented fallback glyph
    got, _ = parse_pdf_word_pages(pdf, strict=False)
    joined = " ".join(w.text for ws in got for w in ws)
    assert "�" in joined and "D�lt�" in joined

    # a fully-mapped file stays clean under strict mode
    clean = write_pdf_type0(pages, heights, HELVETICA)
    got2, _ = parse_pdf_word_pages(clean, strict=True)
    assert [w.text for ws in got2 for w in ws] == [
        w.text for ws in pages for w in ws
    ]


# ------------------------------- 5. durable two-phase connected components


def _chain_fixture(spark, n=16):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(n)], "doc_id long, text string"
    )
    # one long chain (adversarial for propagation, several two-phase
    # rounds) + two isolated nodes
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 2)], "id_a long, id_b long"
    )
    return docs, pairs


def test_twophase_durable_matches_memory_path(spark, tmp_path):
    from sharepointcrawler_spark.operators.corpus import near_dup_components_twophase

    docs, pairs = _chain_fixture(spark)
    mem = {
        r.doc_id: r.cluster_id
        for r in near_dup_components_twophase(docs, pairs).collect()
    }
    dur = {
        r.doc_id: r.cluster_id
        for r in near_dup_components_twophase(
            docs, pairs, checkpoint_dir=str(tmp_path / "cc2")
        ).collect()
    }
    assert dur == mem
    # storage bound: superseded edge tables deleted (at most the last two
    # rounds + state remain)
    edge_dirs = [d for d in os.listdir(tmp_path / "cc2") if d.startswith("edges-")]
    assert len(edge_dirs) <= 2


def test_twophase_kill_resume_mid_rounds(spark, tmp_path, monkeypatch):
    """Kill the job right after round 1 commits; a fresh call with the
    same checkpoint_dir must resume FROM round 1 (never recompute the
    symmetrize or round 1) and converge to the same fixpoint as an
    uninterrupted run — including the checksum compare, which resumes
    from the state-stored round-1 checksum."""
    from sharepointcrawler_spark.operators import corpus as corpus_mod
    from sharepointcrawler_spark.operators.corpus import near_dup_components_twophase

    docs, pairs = _chain_fixture(spark)
    ckpt = str(tmp_path / "cc2")
    expected = {
        r.doc_id: r.cluster_id
        for r in near_dup_components_twophase(docs, pairs).collect()
    }

    orig_write_state = corpus_mod._cc_write_state

    def killing_write_state(checkpoint_dir, state):
        orig_write_state(checkpoint_dir, state)  # the commit lands first
        if state.get("round") == 1:
            raise RuntimeError("simulated executor-storm kill")

    monkeypatch.setattr(corpus_mod, "_cc_write_state", killing_write_state)
    with pytest.raises(RuntimeError, match="simulated"):
        near_dup_components_twophase(docs, pairs, checkpoint_dir=ckpt)
    monkeypatch.setattr(corpus_mod, "_cc_write_state", orig_write_state)

    with open(corpus_mod._cc_state_path(ckpt)) as f:
        state = json.load(f)
    assert state["round"] == 1 and not state["converged"]

    # track parquet writes: the resumed run must start at round 2
    written = []
    from pyspark.sql.readwriter import DataFrameWriter

    orig_parquet = DataFrameWriter.parquet

    def tracking_parquet(self, path, *a, **kw):
        written.append(os.path.basename(path.rstrip("/")))
        return orig_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", tracking_parquet)
    resumed = {
        r.doc_id: r.cluster_id
        for r in near_dup_components_twophase(
            docs, pairs, checkpoint_dir=ckpt
        ).collect()
    }
    assert resumed == expected
    edge_writes = [w for w in written if w.startswith("edges-")]
    assert edge_writes and min(edge_writes) >= "edges-0002", edge_writes

    # converged state is terminal: a third call is pure read-back
    written.clear()
    again = {
        r.doc_id: r.cluster_id
        for r in near_dup_components_twophase(
            docs, pairs, checkpoint_dir=ckpt
        ).collect()
    }
    assert again == expected and written == []
