"""Multimodal columns: opaque ``binary`` payloads + typed metadata,
processed through Arrow-batched ``mapInPandas``.

The container layer is REAL for every format pure Python can handle:
BMP/PPM (``functions/imaging.py``), RIFF/WAVE PCM
(``functions/audio.py``), GIF with genuine LZW entropy decoding
(``functions/gif.py``), and AVI (``functions/video.py``).
``multimodal_meta`` sniffs media types from MAGIC BYTES over a corpus of
real containers; ``frame_sample``, the ``*_decode_stats`` queries, and
``media_features`` (classical per-channel/gradient/colorfulness
descriptors) compute their outputs from DECODED pixels/samples/frames.
A LEARNED encoder (CLIP/wav2vec-class) is the one documented extension
point — no model library ships in this container; it swaps into
``media_features``' per-batch body with the same Arrow shape and schema
(see docs/MULTIMODAL_CODECS.md for the native codec swap point).

Everything is oracle-checked: payload bytes derive deterministically
from ``documents.text`` (UTF-8 encoding) and the codecs round-trip
losslessly, so DuckDB can verify decoded values byte-for-byte.

Scale design: mapInPandas streams Arrow batches; payloads never pass
through the driver, and the metadata projection prunes the binary column
immediately after extraction so downstream stages don't carry blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mit_6_5840_mapreduce_spark.sources.tables import load_table

META_SCHEMA = ("doc_id BIGINT, n_bytes BIGINT, header_hex STRING, "
               "media_type STRING")

PIX_W = 4                       # pixels per BMP row in image_decode_stats
_ROW_BYTES = PIX_W * 3
AUDIO_SR = 16000
VID_W, VID_H = 4, 4
VID_FRAME_BYTES = VID_W * VID_H * 3


def _wrap_payload(doc_id: int, raw: bytes) -> bytes:
    """Deterministically wrap a raw payload in a REAL media container by
    doc_id % 4 (0: BMP, 1: WAV, 2: AVI, 3: raw text), so the corpus
    carries a mix of genuinely-sniffable binary formats. Payloads too
    small for one unit of their container fall back to raw text."""
    from mit_6_5840_mapreduce_spark.functions.audio import encode_wav
    from mit_6_5840_mapreduce_spark.functions.imaging import encode_bmp
    from mit_6_5840_mapreduce_spark.functions.video import encode_avi
    mod = doc_id % 4
    if mod == 0:
        k = (len(raw) // _ROW_BYTES) * _ROW_BYTES
        if k:
            return encode_bmp(raw[:k], PIX_W, k // _ROW_BYTES)
    elif mod == 1:
        k = len(raw) & ~1
        if k:
            return encode_wav(raw[:k], AUDIO_SR)
    elif mod == 2:
        k = (len(raw) // VID_FRAME_BYTES) * VID_FRAME_BYTES
        if k:
            frames = [raw[i:i + VID_FRAME_BYTES]
                      for i in range(0, k, VID_FRAME_BYTES)]
            return encode_avi(frames, VID_W, VID_H)
    return raw


def _extract_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched metadata extraction: wrap each payload in its real
    container (see _wrap_payload), then sniff media_type from MAGIC
    BYTES (functions/sniff.py) — not from any out-of-band hint — and
    report the container's true size and 8-byte header."""
    from mit_6_5840_mapreduce_spark.functions.sniff import sniff_media_type
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "n_bytes": [],
                                "header_hex": [], "media_type": []}
        for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
            blob = _wrap_payload(doc_id, raw)
            out["doc_id"].append(doc_id)
            out["n_bytes"].append(len(blob))
            out["header_hex"].append(blob[:8].hex().upper())
            out["media_type"].append(sniff_media_type(blob))
        yield pd.DataFrame(out)


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction via mapInPandas over a corpus of
    real BMP/WAV/AVI containers (built from documents.text bytes), with
    media_type detected from magic bytes by functions/sniff.py."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(_extract_meta, META_SCHEMA)


N_FRAMES = 4


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL frame sampling: build an AVI container from the payload's
    frames, decode it back through functions/video.py (nested RIFF walk,
    avih parse, per-frame DIB decode with row flip + BGR swap), and emit
    the first N_FRAMES DECODED frames."""
    from mit_6_5840_mapreduce_spark.functions.video import (
        decode_avi, encode_avi)
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [],
                                "frame_hex": [], "frame_bytes": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            k = (len(payload) // VID_FRAME_BYTES) * VID_FRAME_BYTES
            if k == 0:
                continue            # payload too small for one frame
            frames = [payload[i:i + VID_FRAME_BYTES]
                      for i in range(0, k, VID_FRAME_BYTES)]
            _w, _h, decoded = decode_avi(encode_avi(frames, VID_W, VID_H))
            for i, frame in enumerate(decoded[:N_FRAMES]):
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_hex"].append(frame.hex().upper())
                out["frame_bytes"].append(len(frame))
        yield pd.DataFrame(out)


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads via mapInPandas, routed
    through the real AVI encode->decode path (see _sample_frames)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(
        _sample_frames,
        "doc_id BIGINT, frame_idx INT, frame_hex STRING, frame_bytes BIGINT")


def _media_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Sniff-dispatched decoding: detect each payload's container from
    MAGIC BYTES, route it to the matching real codec (BMP/WAV/AVI), and
    compute content statistics from the DECODED representation; corrupt
    containers fall back to byte statistics with decode_ok=0 instead of
    failing the batch — the robustness a crawl-scale pipeline needs."""
    import numpy as np

    from mit_6_5840_mapreduce_spark.functions.audio import decode_wav
    from mit_6_5840_mapreduce_spark.functions.imaging import decode_image
    from mit_6_5840_mapreduce_spark.functions.sniff import sniff_media_type
    from mit_6_5840_mapreduce_spark.functions.video import decode_avi

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "media_type", "n_units", "mean_val", "decode_ok")}
        for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
            blob = _wrap_payload(doc_id, raw)
            mt = sniff_media_type(blob)
            try:
                if mt == "image/bmp":
                    w, h, rgb = decode_image(blob)
                    arr = np.frombuffer(rgb, dtype=np.uint8)
                    n_units, s, denom = w * h, int(arr.sum(dtype=np.int64)), arr.size
                elif mt == "audio/x-wav":
                    _sr, _nch, samples = decode_wav(blob)
                    n_units = int(samples.shape[0])
                    s, denom = int(samples.sum(dtype=np.int64)), n_units
                elif mt == "video/avi":
                    _w, _h, frames = decode_avi(blob)
                    arr = np.frombuffer(b"".join(frames), dtype=np.uint8)
                    n_units = len(frames)
                    s, denom = int(arr.sum(dtype=np.int64)), arr.size
                else:
                    raise ValueError("plain text: byte statistics")
                ok = 1
            except ValueError:
                arr = np.frombuffer(blob, dtype=np.uint8)
                n_units = len(blob)
                s, denom = int(arr.sum(dtype=np.int64)), max(len(blob), 1)
                ok = 1 if mt == "text/plain" else 0
            out["doc_id"].append(doc_id)
            out["media_type"].append(mt)
            out["n_units"].append(n_units)
            out["mean_val"].append(np.floor(s / denom * 10000) / 10000)
            out["decode_ok"].append(ok)
        yield pd.DataFrame(out)


def media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal path: sniff -> dispatch -> real decode ->
    stats, over the mixed BMP/WAV/AVI/text corpus (see _media_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(
        _media_stats,
        "doc_id BIGINT, media_type STRING, n_units BIGINT, "
        "mean_val DOUBLE, decode_ok INT")


N_FEATURES = 8


BRIGHT_LUM = 381                # R+G+B above this -> "bright" pixel


def _extract_features(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
    """REAL classical image featurizer: wrap the payload in a genuine
    24-bit BMP, decode it back through functions/imaging.py, and
    compute N_FEATURES interpretable features from the DECODED pixels —
    per-channel means, RMS intensity, bright-pixel fraction, horizontal
    gradient energy, byte colorfulness, and channel-balance spread (the
    classical descriptor family used for image triage/quality gates).
    All features are exact integer sums -> one mirrored float chain ->
    floor4, so the oracle recomputes them bit-identically.

    A LEARNED encoder (CLIP/wav2vec) swaps in by replacing only the
    per-batch body — same Arrow batch shape, same fixed-width output
    schema; no such model library ships in this container."""
    import numpy as np

    from mit_6_5840_mapreduce_spark.functions.imaging import (
        decode_image, encode_bmp)

    for pdf in batches:
        cols: dict[str, list] = {"doc_id": []}
        for k in range(N_FEATURES):
            cols[f"f{k}"] = []

        def fl4(x: float) -> float:
            return float(np.floor(x * 10000) / 10000)

        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            k = (len(payload) // _ROW_BYTES) * _ROW_BYTES
            if k == 0:
                continue            # payload too small for one pixel row
            _w, _h, rgb = decode_image(
                encode_bmp(payload[:k], PIX_W, k // _ROW_BYTES))
            v = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
            n = v.shape[0]
            px = v.reshape(-1, 3)
            n_px = px.shape[0]
            s_ch = [int(px[:, c].sum()) for c in range(3)]
            s2 = int((v * v).sum())
            n_bright = int((px.sum(axis=1) > BRIGHT_LUM).sum())
            grad = int(np.abs(v[3:] - v[:-3]).sum())
            n_distinct = int(np.unique(v).shape[0])
            cols["doc_id"].append(doc_id)
            cols["f0"].append(fl4(s_ch[0] / n_px / 255))
            cols["f1"].append(fl4(s_ch[1] / n_px / 255))
            cols["f2"].append(fl4(s_ch[2] / n_px / 255))
            cols["f3"].append(fl4(np.sqrt(s2 / n) / 255))
            cols["f4"].append(fl4(n_bright / n_px))
            cols["f5"].append(fl4(grad / (n - 3) / 255))
            cols["f6"].append(fl4(n_distinct / 256))
            cols["f7"].append(fl4((max(s_ch) - min(s_ch)) / n_px / 255))
        yield pd.DataFrame(cols)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical image features from really-decoded pixels via
    mapInPandas (Arrow batches in, fixed-width feature schema out —
    exactly the shape a learned CLIP/wav2vec stage has; see
    _extract_features for the swap point).

    Output contract (ADVICE r5): documents whose UTF-8 payload is
    shorter than one pixel row (_ROW_BYTES = 12 bytes) are OMITTED —
    there is no pixel to featurize — so this is NOT one-row-per-doc;
    downstream consumers needing full coverage must left-join back to
    ``documents``. The oracle mirrors the drop (WHERE k > 0)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    schema = "doc_id BIGINT, " + ", ".join(
        f"f{k} DOUBLE" for k in range(N_FEATURES))
    return with_payload.mapInPandas(_extract_features, schema)


THUMB_SAMPLES = 8


def _thumbnail(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Downsample stub: THUMB_SAMPLES bytes sampled at even strides from
    the payload head (stand-in for image resize / audio downsample —
    the real operator swaps the per-batch body, not the plumbing)."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "thumb_hex": [],
                                "stride": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            stride = max(len(payload) // THUMB_SAMPLES, 1)
            sampled = payload[::stride][:THUMB_SAMPLES]
            out["doc_id"].append(doc_id)
            out["thumb_hex"].append(sampled.hex().upper())
            out["stride"].append(stride)
        yield pd.DataFrame(out)


def payload_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided-byte downsampling over binary payloads via mapInPandas."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(
        _thumbnail, "doc_id BIGINT, thumb_hex STRING, stride BIGINT")


def _decode_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Wrap payload bytes in a REAL 24-bit BMP container, decode it back
    through functions/imaging.py, and compute channel statistics from
    the DECODED pixels. The encode->decode round trip exercises header
    construction/parsing, the bottom-up row flip, per-row padding, and
    the BGR<->RGB swap — everything a real decoder does short of
    entropy coding."""
    import numpy as np

    from mit_6_5840_mapreduce_spark.functions.imaging import (
        decode_image, encode_bmp)

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "width", "height", "n_pixels",
            "mean_r", "mean_g", "mean_b")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            k = (len(payload) // _ROW_BYTES) * _ROW_BYTES
            if k == 0:
                continue            # payload too small for one pixel row
            height = k // _ROW_BYTES
            width, height, rgb = decode_image(
                encode_bmp(payload[:k], PIX_W, height))
            arr = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
            n_px = arr.shape[0]
            out["doc_id"].append(doc_id)
            out["width"].append(width)
            out["height"].append(height)
            out["n_pixels"].append(n_px)
            # exact integer sums -> one double division -> floor4:
            # bit-identical on any engine (see functions/numeric.py)
            for name, ch in (("mean_r", 0), ("mean_g", 1), ("mean_b", 2)):
                s = int(arr[:, ch].sum(dtype=np.int64))
                out[name].append(
                    np.floor(s / n_px * 10000) / 10000)
        yield pd.DataFrame(out)


def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document pixel statistics computed from DECODED image bytes
    (real BMP codec path; see _decode_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(
        _decode_stats,
        "doc_id BIGINT, width INT, height INT, n_pixels BIGINT, "
        "mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE")


def _audio_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Wrap payload bytes in a REAL RIFF/WAVE container, decode it back
    through functions/audio.py (chunk walk, fmt parse), and compute
    signal statistics from the DECODED 16-bit samples. Integer sums are
    exact and sqrt is IEEE-correctly-rounded, so floor4 of the stats is
    engine-independent."""
    import numpy as np

    from mit_6_5840_mapreduce_spark.functions.audio import (
        decode_wav, encode_wav)

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "sample_rate", "n_samples", "mean_amp", "rms")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            k = len(payload) & ~1                # 2 bytes per sample
            if k == 0:
                continue
            sr, _nch, samples = decode_wav(encode_wav(payload[:k],
                                                      AUDIO_SR))
            n = samples.shape[0]
            s1 = int(samples.sum(dtype=np.int64))
            s2 = int((samples.astype(np.int64) ** 2).sum())
            out["doc_id"].append(doc_id)
            out["sample_rate"].append(sr)
            out["n_samples"].append(n)
            out["mean_amp"].append(np.floor(s1 / n * 10000) / 10000)
            out["rms"].append(np.floor(np.sqrt(s2 / n) * 10000) / 10000)
        yield pd.DataFrame(out)


def audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document signal statistics computed from DECODED 16-bit PCM
    (real WAV codec path; see _audio_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(
        _audio_stats,
        "doc_id BIGINT, sample_rate INT, n_samples BIGINT, "
        "mean_amp DOUBLE, rms DOUBLE")


GIF_W = 16


def _gif_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Wrap payload bytes (as palette indices on a grayscale table) in a
    REAL GIF container with genuine LZW compression, decode it back —
    header, color table, sub-block reassembly, and the variable-width
    LZW dictionary rebuild all run for every row — and compute
    luminance statistics from the DECODED pixels."""
    import numpy as np

    from mit_6_5840_mapreduce_spark.functions.gif import (
        GRAYSCALE_PALETTE, decode_gif, encode_gif)

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "width", "height", "n_pixels", "mean_lum")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            k = (len(payload) // GIF_W) * GIF_W
            if k == 0:
                continue
            w, h, rgb = decode_gif(encode_gif(
                payload[:k], GIF_W, k // GIF_W, GRAYSCALE_PALETTE))
            lum = np.frombuffer(rgb, dtype=np.uint8)[::3]  # r == index
            n = lum.shape[0]
            s1 = int(lum.sum(dtype=np.int64))
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["n_pixels"].append(n)
            out["mean_lum"].append(np.floor(s1 / n * 10000) / 10000)
        yield pd.DataFrame(out)


def gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document luminance statistics computed from pixels decoded
    through a real LZW-compressed GIF (see _gif_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(
        _gif_stats,
        "doc_id BIGINT, width INT, height INT, n_pixels BIGINT, "
        "mean_lum DOUBLE")


FRAME_STRIDE = 2                      # keep every 2nd frame


def _video_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Wrap payload bytes in a REAL AVI container (nested RIFF lists,
    avih header, per-frame DIB chunks), decode it back, keyframe-sample
    every FRAME_STRIDE-th DECODED frame, and compute per-frame pixel
    means — the real-container version of frame_sample's byte-slice
    stand-in."""
    import numpy as np

    from mit_6_5840_mapreduce_spark.functions.video import (
        decode_avi, encode_avi)

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "doc_id", "frame_idx", "n_frames", "mean_px")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            k = (len(payload) // VID_FRAME_BYTES) * VID_FRAME_BYTES
            if k == 0:
                continue
            frames = [payload[i:i + VID_FRAME_BYTES]
                      for i in range(0, k, VID_FRAME_BYTES)]
            _w, _h, decoded = decode_avi(encode_avi(frames, VID_W, VID_H))
            for idx in range(0, len(decoded), FRAME_STRIDE):
                px = np.frombuffer(decoded[idx], dtype=np.uint8)
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["n_frames"].append(len(decoded))
                out["mean_px"].append(
                    np.floor(int(px.sum(dtype=np.int64))
                             / VID_FRAME_BYTES * 10000) / 10000)
        yield pd.DataFrame(out)


def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe statistics from frames decoded out of a real AVI
    container (see _video_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(
        _video_stats,
        "doc_id BIGINT, frame_idx INT, n_frames INT, mean_px DOUBLE")


PHASH_BLOCKS = 16   # gray blocks per image -> 16-bit dHash-style signature


def _phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Perceptual hash from DECODED pixels (real BMP codec round trip,
    like _decode_stats): per-pixel gray = r+g+b (exact ints), the pixel
    sequence split into PHASH_BLOCKS contiguous blocks, and a dHash-style
    bit per adjacent block-mean comparison (mean compares done as exact
    integer cross-multiplications — no division anywhere). Bit 15
    compares the last block against the whole-image mean."""
    import numpy as np

    from mit_6_5840_mapreduce_spark.functions.imaging import (
        decode_image, encode_bmp)

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in ("doc_id", "n_pixels",
                                                "phash")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            k = (len(payload) // _ROW_BYTES) * _ROW_BYTES
            if k == 0:
                continue
            _, _, rgb = decode_image(
                encode_bmp(payload[:k], PIX_W, k // _ROW_BYTES))
            gray = (np.frombuffer(rgb, dtype=np.uint8)
                    .astype(np.int64).reshape(-1, 3).sum(axis=1))
            n = gray.shape[0]
            blk = (np.arange(n, dtype=np.int64) * PHASH_BLOCKS) // n
            s = np.bincount(blk, weights=gray,
                            minlength=PHASH_BLOCKS).astype(np.int64)
            c = np.bincount(blk, minlength=PHASH_BLOCKS).astype(np.int64)
            phash = 0
            for j in range(PHASH_BLOCKS - 1):
                if int(s[j]) * int(c[j + 1]) > int(s[j + 1]) * int(c[j]):
                    phash |= 1 << j
            if int(s[-1]) * int(c.sum()) > int(s.sum()) * int(c[-1]):
                phash |= 1 << (PHASH_BLOCKS - 1)
            out["doc_id"].append(doc_id)
            out["n_pixels"].append(n)
            out["phash"].append(phash)
        yield pd.DataFrame(out)


def image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 16-bit perceptual hash over the decoded image (see
    _phash_batch) — the multimodal twin of simhash_docs: a compact
    sketch whose equality survives small pixel edits because it encodes
    block-mean STRUCTURE, not content bytes.

    Scale design (100 TB): one Arrow-batched decode pass, payloads
    pruned at the scan, 10 bytes out per image."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    return with_payload.mapInPandas(
        _phash_batch, "doc_id BIGINT, n_pixels BIGINT, phash BIGINT")


def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: equality join on the perceptual hash
    (doc_a < doc_b). Hamming-0 on a 16-bit structural sketch — the
    image-space analogue of the lexical dedup families' banding: the
    join key IS the bucket, never a cross join. A production 64-bit
    phash would band into 4x16-bit keys for Hamming<=3 exactly like
    dedup_simhash; at 16 bits the whole hash is one band."""
    ph = image_phash(spark, sf_dir)
    a = ph.select(F.col("doc_id").alias("doc_a"), "phash")
    b = ph.select(F.col("doc_id").alias("doc_b"), "phash")
    return (a.join(b, "phash")
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "phash"))


QUERIES = {
    "multimodal_meta": multimodal_meta,
    "image_decode_stats": image_decode_stats,
    "frame_sample": frame_sample,
    "media_features": media_features,
    "payload_thumbnail": payload_thumbnail,
    "media_decode_stats": media_decode_stats,
    "audio_decode_stats": audio_decode_stats,
    "gif_decode_stats": gif_decode_stats,
    "video_frame_stats": video_frame_stats,
    "image_phash": image_phash,
    "image_phash_neardup": image_phash_neardup,
}


# decode(encode_bmp(x)) == x, so every feature is a function of the raw
# payload byte stream — recomputed here on the hex expansion of the same
# UTF-8 bytes, with each float chain written in the identical order as
# the numpy side (exact integer sums -> mirrored divisions -> floor4)
_MEDIA_FEATURES_ORACLE = f"""
        WITH b AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   (octet_length(encode(text)) // {_ROW_BYTES})
                       * {_ROW_BYTES} AS k
            FROM documents
        ),
        vals AS (
            SELECT doc_id, k, i,
                   CAST(concat('0x', substring(hx, CAST(i * 2 + 1 AS INT), 2))
                        AS INT) AS v
            FROM (SELECT doc_id, k, hx, unnest(range(0, k)) AS i
                  FROM b WHERE k > 0)
        ),
        agg AS (
            SELECT doc_id, k,
                   CAST(sum(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS s_r,
                   CAST(sum(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS s_g,
                   CAST(sum(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS s_b,
                   CAST(sum(v * v) AS BIGINT) AS s2,
                   count(DISTINCT v) AS n_distinct
            FROM vals GROUP BY doc_id, k
        ),
        g AS (
            SELECT doc_id, CAST(sum(abs(nxt - v)) AS BIGINT) AS grad
            FROM (SELECT doc_id, v,
                         lead(v, 3) OVER (PARTITION BY doc_id
                                          ORDER BY i) AS nxt
                  FROM vals)
            WHERE nxt IS NOT NULL
            GROUP BY doc_id
        ),
        br AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN lum > {BRIGHT_LUM}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_bright
            FROM (SELECT doc_id, i // 3 AS j, sum(v) AS lum
                  FROM vals GROUP BY doc_id, i // 3)
            GROUP BY doc_id
        )
        SELECT a.doc_id,
               floor(s_r / (k // 3)::DOUBLE / 255 * 10000) / 10000 AS f0,
               floor(s_g / (k // 3)::DOUBLE / 255 * 10000) / 10000 AS f1,
               floor(s_b / (k // 3)::DOUBLE / 255 * 10000) / 10000 AS f2,
               floor(sqrt(s2 / k::DOUBLE) / 255 * 10000) / 10000 AS f3,
               floor(n_bright / (k // 3)::DOUBLE * 10000) / 10000 AS f4,
               floor(grad / (k - 3)::DOUBLE / 255 * 10000) / 10000 AS f5,
               floor(n_distinct / 256.0 * 10000) / 10000 AS f6,
               floor((greatest(s_r, s_g, s_b) - least(s_r, s_g, s_b))
                     / (k // 3)::DOUBLE / 255 * 10000) / 10000 AS f7
        FROM agg a JOIN g USING (doc_id) JOIN br USING (doc_id)
"""

_THUMB_PIECES = " || ".join(
    f"(CASE WHEN {i} * stride < n THEN "
    f"substring(h, {i} * stride * 2 + 1, 2) ELSE '' END)"
    for i in range(THUMB_SAMPLES))

def _d_mean(ch: int) -> str:
    return (f"floor(CAST(sum(CASE WHEN i % 3 = {ch} THEN v END) AS BIGINT)"
            f" / (k // 3)::DOUBLE * 10000) / 10000")


# decode(encode_bmp(x)) == x, so the decoded channel sums equal sums over
# payload byte positions i % 3 == channel — directly expressible on the
# hex expansion of the same UTF-8 bytes
_DECODE_STATS_ORACLE = f"""
        WITH b AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   (octet_length(encode(text)) // {_ROW_BYTES})
                       * {_ROW_BYTES} AS k
            FROM documents
        ),
        vals AS (
            SELECT doc_id, k, i,
                   CAST(concat('0x', substring(hx, CAST(i * 2 + 1 AS INT), 2))
                        AS INT) AS v
            FROM (SELECT doc_id, k, hx, unnest(range(0, k)) AS i
                  FROM b WHERE k > 0)
        )
        SELECT doc_id,
               CAST({PIX_W} AS INT) AS width,
               CAST(k // {_ROW_BYTES} AS INT) AS height,
               CAST(k // 3 AS BIGINT) AS n_pixels,
               {_d_mean(0)} AS mean_r,
               {_d_mean(1)} AS mean_g,
               {_d_mean(2)} AS mean_b
        FROM vals
        GROUP BY doc_id, k
"""

# 16-bit LE sample i = byte[2i] + 256*byte[2i+1] (two's complement):
# hi hex pair sits at 1-based position 4i+3, lo at 4i+1
_AUDIO_STATS_ORACLE = f"""
        WITH b AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   (octet_length(encode(text)) // 2) * 2 AS k
            FROM documents
        ),
        s AS (
            SELECT doc_id, k,
                   CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
            FROM (
                SELECT doc_id, k,
                       CAST(concat('0x',
                            substring(hx, CAST(i * 4 + 3 AS INT), 2),
                            substring(hx, CAST(i * 4 + 1 AS INT), 2))
                            AS INT) AS u
                FROM (SELECT doc_id, k, hx, unnest(range(0, k // 2)) AS i
                      FROM b WHERE k > 0)
            )
        )
        SELECT doc_id,
               CAST({AUDIO_SR} AS INT) AS sample_rate,
               CAST(k // 2 AS BIGINT) AS n_samples,
               floor(CAST(sum(v) AS BIGINT) / (k // 2)::DOUBLE * 10000)
                   / 10000 AS mean_amp,
               floor(sqrt(CAST(sum(v * v) AS BIGINT) / (k // 2)::DOUBLE)
                     * 10000) / 10000 AS rms
        FROM s
        GROUP BY doc_id, k
"""

# decode(encode(x)) == x through the GIF/LZW round trip, and the
# grayscale palette makes luminance == the original byte — so the
# decoded stats equal direct byte statistics over the same UTF-8 bytes
_GIF_STATS_ORACLE = f"""
        WITH b AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   (octet_length(encode(text)) // {GIF_W}) * {GIF_W} AS k
            FROM documents
        ),
        vals AS (
            SELECT doc_id, k,
                   CAST(concat('0x', substring(hx, CAST(i * 2 + 1 AS INT), 2))
                        AS INT) AS v
            FROM (SELECT doc_id, k, hx, unnest(range(0, k)) AS i
                  FROM b WHERE k > 0)
        )
        SELECT doc_id,
               CAST({GIF_W} AS INT) AS width,
               CAST(k // {GIF_W} AS INT) AS height,
               CAST(k AS BIGINT) AS n_pixels,
               floor(CAST(sum(v) AS BIGINT) / k::DOUBLE * 10000) / 10000
                   AS mean_lum
        FROM vals
        GROUP BY doc_id, k
"""

# decode(encode(frames)) == frames through the AVI round trip, so each
# sampled frame's pixel mean equals the mean over that frame's byte
# range of the same UTF-8 payload
_VIDEO_STATS_ORACLE = f"""
        WITH b AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   (octet_length(encode(text)) // {VID_FRAME_BYTES})
                       * {VID_FRAME_BYTES} AS k
            FROM documents
        ),
        vals AS (
            SELECT doc_id, k, i // {VID_FRAME_BYTES} AS frame_idx,
                   CAST(concat('0x', substring(hx, CAST(i * 2 + 1 AS INT), 2))
                        AS INT) AS v
            FROM (SELECT doc_id, k, hx, unnest(range(0, k)) AS i
                  FROM b WHERE k > 0)
        )
        SELECT doc_id,
               CAST(frame_idx AS INT) AS frame_idx,
               CAST(k // {VID_FRAME_BYTES} AS INT) AS n_frames,
               floor(CAST(sum(v) AS BIGINT) / {VID_FRAME_BYTES}.0
                     * 10000) / 10000 AS mean_px
        FROM vals
        WHERE frame_idx % {FRAME_STRIDE} = 0
        GROUP BY doc_id, k, frame_idx
"""

# decode(encode_bmp(x)) == x, so gray(p) = byte[3p] + byte[3p+1] +
# byte[3p+2] directly on the hex expansion; every block-mean compare is
# an exact integer cross-multiplication — no division, no float.
_PHASH_COMMON = f"""
        b AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   (octet_length(encode(text)) // {_ROW_BYTES})
                       * {_ROW_BYTES} AS k
            FROM documents
        ),
        px AS (
            SELECT doc_id,
                   (p * {PHASH_BLOCKS}) // (k // 3) AS blk,
                   CAST(concat('0x',
                        substring(hx, CAST(p * 6 + 1 AS INT), 2))
                        AS BIGINT)
                 + CAST(concat('0x',
                        substring(hx, CAST(p * 6 + 3 AS INT), 2))
                        AS BIGINT)
                 + CAST(concat('0x',
                        substring(hx, CAST(p * 6 + 5 AS INT), 2))
                        AS BIGINT) AS gray
            FROM (SELECT doc_id, hx, k, unnest(range(0, k // 3)) AS p
                  FROM b WHERE k > 0)
        ),
        blocks AS (
            SELECT doc_id, blk, CAST(sum(gray) AS BIGINT) AS s,
                   count(*) AS c
            FROM px GROUP BY doc_id, blk
        ),
        grid AS (
            SELECT d.doc_id, jj.j,
                   coalesce(bl.s, 0) AS s, coalesce(bl.c, 0) AS c
            FROM (SELECT DISTINCT doc_id FROM blocks) d
            CROSS JOIN (SELECT unnest(range(0, {PHASH_BLOCKS})) AS j) jj
            LEFT JOIN blocks bl
                ON bl.doc_id = d.doc_id AND bl.blk = jj.j
        ),
        tot AS (
            SELECT doc_id, CAST(sum(s) AS BIGINT) AS st,
                   CAST(sum(c) AS BIGINT) AS ct
            FROM grid GROUP BY doc_id
        ),
        bits AS (
            SELECT a.doc_id,
                   CASE WHEN a.s * n.c > n.s * a.c
                        THEN (1::BIGINT << CAST(a.j AS INT)) ELSE 0
                   END AS v
            FROM grid a JOIN grid n
                ON n.doc_id = a.doc_id AND n.j = a.j + 1
            UNION ALL
            SELECT g.doc_id,
                   CASE WHEN g.s * t.ct > t.st * g.c
                        THEN (1::BIGINT << {PHASH_BLOCKS - 1}) ELSE 0
                   END AS v
            FROM grid g JOIN tot t USING (doc_id)
            WHERE g.j = {PHASH_BLOCKS - 1}
        ),
        ph AS (
            SELECT doc_id, CAST(sum(v) AS BIGINT) AS phash
            FROM bits GROUP BY doc_id
        )
"""


def _le32(expr: str) -> str:
    """Little-endian u32 rendered as 8 uppercase hex chars (the wire
    layout of RIFF/BMP size fields), for the DuckDB oracle."""
    return (f"printf('%02X%02X%02X%02X', ({expr}) & 255, "
            f"(({expr}) >> 8) & 255, (({expr}) >> 16) & 255, "
            f"(({expr}) >> 24) & 255)")


# Mirrors _wrap_payload + sniff_media_type byte-exactly: container sizes
# are closed-form in the raw length (BMP: 54 + k with the 4px row already
# 4-byte-aligned; WAV: 44-byte canonical header + k; AVI with 4x4 frames:
# 228 + 56 per frame), and the 8-byte headers are magic + little-endian
# size fields. The ELSE branch re-runs the same magic sniff on raw text
# so a text document that happens to start with a container signature
# matches the Spark side.
_MULTIMODAL_META_ORACLE = f"""
        WITH b AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n,
                   doc_id % 4 AS m
            FROM documents
        ),
        sz AS (
            SELECT doc_id, hx, n, m,
                   (n // {_ROW_BYTES}) * {_ROW_BYTES} AS kb,
                   (n // 2) * 2 AS kw,
                   n // {VID_FRAME_BYTES} AS nf
            FROM b
        )
        SELECT doc_id,
               CASE WHEN m = 0 AND kb > 0 THEN 54 + kb
                    WHEN m = 1 AND kw > 0 THEN 44 + kw
                    WHEN m = 2 AND nf > 0 THEN 228 + 56 * nf
                    ELSE n END AS n_bytes,
               CASE WHEN m = 0 AND kb > 0
                        THEN concat('424D', {_le32('54 + kb')}, '0000')
                    WHEN m = 1 AND kw > 0
                        THEN concat('52494646', {_le32('36 + kw')})
                    WHEN m = 2 AND nf > 0
                        THEN concat('52494646', {_le32('220 + 56 * nf')})
                    ELSE substring(hx, 1, 16) END AS header_hex,
               CASE WHEN m = 0 AND kb > 0 THEN 'image/bmp'
                    WHEN m = 1 AND kw > 0 THEN 'audio/x-wav'
                    WHEN m = 2 AND nf > 0 THEN 'video/avi'
                    WHEN substring(hx, 1, 4) = '424D' THEN 'image/bmp'
                    WHEN substring(hx, 1, 8) = '47494638' THEN 'image/gif'
                    WHEN substring(hx, 1, 8) = '52494646'
                         AND substring(hx, 17, 8) = '57415645'
                        THEN 'audio/x-wav'
                    WHEN substring(hx, 1, 8) = '52494646'
                         AND substring(hx, 17, 8) = '41564920'
                        THEN 'video/avi'
                    ELSE 'text/plain' END AS media_type
        FROM sz
"""

# Mirrors _media_stats: the round trip is lossless, so decoded stats
# equal direct statistics over the same raw bytes (BMP/AVI: unsigned
# bytes; WAV: signed 16-bit LE samples), dispatched by the same
# doc_id % 4 construction. The text arm re-runs the magic sniff on the
# raw bytes (exactly like _MULTIMODAL_META_ORACLE's ELSE branch): a raw
# text that happens to start with a container signature is sniffed as
# that type on the Spark side, fails its decode, and degrades to byte
# stats with decode_ok=0 — the oracle emits the identical row instead
# of assuming the corpus contains no such prefix (ADVICE r3).
_MEDIA_DECODE_ORACLE = f"""
        WITH sz AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n,
                   doc_id % 4 AS m,
                   (octet_length(encode(text)) // {_ROW_BYTES})
                       * {_ROW_BYTES} AS kb,
                   (octet_length(encode(text)) // 2) * 2 AS kw,
                   octet_length(encode(text)) // {VID_FRAME_BYTES} AS nf
            FROM documents
        ),
        bmp AS (
            SELECT doc_id, CAST(kb // 3 AS BIGINT) AS n_units,
                   floor(CAST(sum(v) AS BIGINT) / kb::DOUBLE * 10000)
                       / 10000 AS mean_val
            FROM (SELECT doc_id, kb,
                         CAST(concat('0x', substring(hx,
                              CAST(i * 2 + 1 AS INT), 2)) AS INT) AS v
                  FROM (SELECT doc_id, hx, kb, unnest(range(0, kb)) AS i
                        FROM sz WHERE m = 0 AND kb > 0))
            GROUP BY doc_id, kb
        ),
        wav AS (
            SELECT doc_id, CAST(kw // 2 AS BIGINT) AS n_units,
                   floor(CAST(sum(v) AS BIGINT) / (kw // 2)::DOUBLE
                         * 10000) / 10000 AS mean_val
            FROM (
                SELECT doc_id, kw,
                       CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
                FROM (SELECT doc_id, kw,
                             CAST(concat('0x',
                                  substring(hx, CAST(i * 4 + 3 AS INT), 2),
                                  substring(hx, CAST(i * 4 + 1 AS INT), 2))
                                  AS INT) AS u
                      FROM (SELECT doc_id, hx, kw,
                                   unnest(range(0, kw // 2)) AS i
                            FROM sz WHERE m = 1 AND kw > 0))
            )
            GROUP BY doc_id, kw
        ),
        avi AS (
            SELECT doc_id, CAST(nf AS BIGINT) AS n_units,
                   floor(CAST(sum(v) AS BIGINT)
                         / (nf * {VID_FRAME_BYTES})::DOUBLE * 10000)
                       / 10000 AS mean_val
            FROM (SELECT doc_id, nf,
                         CAST(concat('0x', substring(hx,
                              CAST(i * 2 + 1 AS INT), 2)) AS INT) AS v
                  FROM (SELECT doc_id, hx, nf,
                               unnest(range(0, nf * {VID_FRAME_BYTES})) AS i
                        FROM sz WHERE m = 2 AND nf > 0))
            GROUP BY doc_id, nf
        ),
        txt_rows AS (
            SELECT doc_id, hx, n,
                   CASE WHEN substring(hx, 1, 4) = '424D'
                            THEN 'image/bmp'
                        WHEN substring(hx, 1, 8) = '47494638'
                            THEN 'image/gif'
                        WHEN substring(hx, 1, 8) = '52494646'
                             AND substring(hx, 17, 8) = '57415645'
                            THEN 'audio/x-wav'
                        WHEN substring(hx, 1, 8) = '52494646'
                             AND substring(hx, 17, 8) = '41564920'
                            THEN 'video/avi'
                        ELSE 'text/plain' END AS sniffed
            FROM sz
            WHERE m = 3 OR (m = 0 AND kb = 0) OR (m = 1 AND kw = 0)
               OR (m = 2 AND nf = 0)
        ),
        txt AS (
            SELECT doc_id, sniffed, CAST(n AS BIGINT) AS n_units,
                   floor(CAST(sum(v) AS BIGINT) / n::DOUBLE * 10000)
                       / 10000 AS mean_val
            FROM (SELECT doc_id, n, sniffed,
                         CAST(concat('0x', substring(hx,
                              CAST(i * 2 + 1 AS INT), 2)) AS INT) AS v
                  FROM (SELECT doc_id, hx, n, sniffed,
                               unnest(range(0, n)) AS i
                        FROM txt_rows WHERE n > 0))
            GROUP BY doc_id, n, sniffed
        )
        SELECT doc_id, 'image/bmp' AS media_type, n_units, mean_val,
               1 AS decode_ok FROM bmp
        UNION ALL SELECT doc_id, 'audio/x-wav', n_units, mean_val, 1
        FROM wav
        UNION ALL SELECT doc_id, 'video/avi', n_units, mean_val, 1
        FROM avi
        UNION ALL SELECT doc_id, sniffed, n_units, mean_val,
               CASE WHEN sniffed = 'text/plain' THEN 1 ELSE 0 END
        FROM txt
        UNION ALL SELECT doc_id, sniffed, CAST(0 AS BIGINT), 0.0, 1
        FROM txt_rows WHERE n = 0
"""

ORACLES = {
    "image_decode_stats": _DECODE_STATS_ORACLE,
    "media_decode_stats": _MEDIA_DECODE_ORACLE,
    "media_features": _MEDIA_FEATURES_ORACLE,
    "payload_thumbnail": f"""
        SELECT doc_id, {_THUMB_PIECES} AS thumb_hex, stride
        FROM (
            SELECT doc_id, hex(encode(text)) AS h,
                   octet_length(encode(text)) AS n,
                   greatest(octet_length(encode(text)) // {THUMB_SAMPLES},
                            1) AS stride
            FROM documents
        )
    """,
    "multimodal_meta": _MULTIMODAL_META_ORACLE,
    "frame_sample": f"""
        SELECT doc_id,
               CAST(i AS INT) AS frame_idx,
               substring(hex(encode(text)),
                         CAST(i * {VID_FRAME_BYTES} * 2 + 1 AS INT),
                         {VID_FRAME_BYTES} * 2) AS frame_hex,
               CAST({VID_FRAME_BYTES} AS BIGINT) AS frame_bytes
        FROM documents
        CROSS JOIN (SELECT unnest(range(0, {N_FRAMES})) AS i)
        WHERE (octet_length(encode(text)) // {VID_FRAME_BYTES}) > i
    """,
    "audio_decode_stats": _AUDIO_STATS_ORACLE,
    "gif_decode_stats": _GIF_STATS_ORACLE,
    "video_frame_stats": _VIDEO_STATS_ORACLE,
    "image_phash": f"""
        WITH {_PHASH_COMMON},
        npx AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pixels
                FROM px GROUP BY doc_id)
        SELECT doc_id, n_pixels, phash
        FROM npx JOIN ph USING (doc_id)
    """,
    "image_phash_neardup": f"""
        WITH {_PHASH_COMMON}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.phash
        FROM ph a JOIN ph b
            ON a.phash = b.phash AND a.doc_id < b.doc_id
    """,
}
