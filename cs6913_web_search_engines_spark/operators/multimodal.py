"""Multimodal columns: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries image/audio/video next to
text.  The Spark-side contract is: payloads are opaque ``binary``
columns with typed metadata structs; decode / feature-extraction run
as Arrow-batched ``mapInPandas`` kernels so bytes stream through
vectorized batches, never row-at-a-time Python.  The reference has no
media path (its final project encodes text only, SURVEY §2.10) —
this module supplies the missing modality plumbing.

Real decode (``decode_media``) soft-imports its codecs: WAV audio
through the stdlib ``wave`` module (executable everywhere), images
through PIL when installed, video marked codec-unavailable; missing
codecs and corrupt payloads become per-row ``ok=false`` results, not
raises.  Everything Spark-owns — schema, partitioning, UDF signature,
batch shape, deterministic byte-level features — is real and
oracle-checked.  Media tables are synthesized deterministically from
``documents`` (payload = UTF-8 bytes of the text), so the DuckDB
oracle can recompute every feature.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from cs6913_web_search_engines_spark.session import trim_zip_importers

KINDS = ("image", "audio", "video")
MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
FRAME_BYTES = 64  # synthetic bytes-per-frame for n_frames derivation

_KIND_SQL = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
_MIME_SQL = ("CASE doc_id % 3 WHEN 0 THEN 'image/png' "
             "WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END")


def synthesize_media(documents: DataFrame) -> DataFrame:
    """documents → (media_id, kind, payload binary, meta struct).

    meta = (mime, byte_len, width, height) with deterministic fake
    dimensions — the schema a WARC/tar sidecar loader would produce.
    """
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.expr(_KIND_SQL).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.expr(_MIME_SQL).alias("mime"),
            F.octet_length(F.encode("text", "UTF-8")).alias("byte_len"),
            (16 + F.col("doc_id") % 32).cast("int").alias("width"),
            (16 + F.col("doc_id") % 24).cast("int").alias("height"),
        ).alias("meta"),
    )


def synthesize_media_sql(docs: str = "documents") -> str:
    """Flat oracle projection (DuckDB structs hash differently, so the
    oracle compares the flattened meta columns)."""
    return f"""
SELECT doc_id AS media_id,
       {_KIND_SQL} AS kind,
       {_MIME_SQL} AS mime,
       CAST(octet_length(ENCODE(text)) AS INT) AS byte_len,
       CAST(16 + doc_id % 32 AS INT) AS width,
       CAST(16 + doc_id % 24 AS INT) AS height
FROM {docs}
"""


def media_metadata(media: DataFrame) -> DataFrame:
    """Metadata projection (flattened) — column pruning means the
    binary payload is never read from parquet for this query."""
    return media.select(
        "media_id", "kind",
        F.col("meta.mime").alias("mime"),
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


# --- feature extraction (Arrow-batched pandas kernel) -----------------------

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, mean_byte double, "
    "n_frames int, nib_hist string"
)


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per-payload byte statistics.

    Vectorized per batch with numpy over the raw buffers; the same
    arithmetic is expressible in the DuckDB oracle over the source
    text, which pins the kernel's correctness.
    """
    trim_zip_importers()
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            yield pd.DataFrame(
                columns=["media_id", "kind", "n_bytes", "mean_byte",
                         "n_frames", "nib_hist"])
            continue
        # ONE concatenated buffer for the whole batch: per-row numpy
        # calls cost ~µs of interpreter overhead each, which dominates
        # for the many small payloads a real media table holds
        bufs = [bytes(p) for p in pdf["payload"]]
        lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
        cat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        row = np.repeat(np.arange(n, dtype=np.int64), lens)
        # per-row 16-bin nibble histogram as one flat bincount
        hist = np.bincount(row * 16 + (cat >> 4),
                           minlength=n * 16).reshape(n, 16)
        sums = np.bincount(row, weights=cat.astype(np.float64), minlength=n)
        means = np.round(np.divide(sums, lens, out=np.zeros(n),
                                   where=lens > 0), 6)
        yield pd.DataFrame({
            "media_id": pdf["media_id"].to_numpy(),
            "kind": pdf["kind"].to_numpy(),
            "n_bytes": lens.astype(np.int32),
            "mean_byte": means,
            "n_frames": (lens // FRAME_BYTES + 1).astype(np.int32),
            # comma-joined — keeps the row hashable for the driver's
            # canonicalizer (scalar columns only)
            "nib_hist": [",".join(map(str, h)) for h in hist.tolist()],
        })
    trim_zip_importers()


def extract_features(media: DataFrame) -> DataFrame:
    """(media_id, kind, n_bytes, mean_byte, n_frames, nib_hist) via an
    Arrow-batched kernel over the binary payload column."""
    return media.select("media_id", "kind", "payload").mapInPandas(
        _feature_batches, FEATURE_SCHEMA
    )


def extract_features_sql(docs: str = "documents") -> str:
    """Oracle: recompute the byte features from the source text (the
    payload is its UTF-8 encoding; corpus text is ASCII)."""
    chars = "[ascii(c) for c in string_split(text, '')]"
    hist = (f"[CAST(len(list_filter({chars}, a -> a // 16 = i)) AS INT) "
            f"for i in range(0, 16)]")
    return f"""
SELECT doc_id AS media_id,
       {_KIND_SQL} AS kind,
       CAST(length(text) AS INT) AS n_bytes,
       ROUND(CASE WHEN length(text) > 0
                  THEN list_sum({chars}) / length(text)::DOUBLE
                  ELSE 0.0 END, 6) AS mean_byte,
       CAST(length(text) // {FRAME_BYTES} + 1 AS INT) AS n_frames,
       array_to_string({hist}, ',') AS nib_hist
FROM {docs}
"""


# --- the genuinely-external decode: soft-import codecs ----------------------

DECODED_SCHEMA = (
    "media_id long, kind string, ok boolean, width int, height int, "
    "n_samples int, n_channels int, err string"
)


def default_video_decoder():
    """Soft-import a video codec → callable ``bytes -> (width, height,
    n_frames)``, or None when no codec is importable.

    Tries PyAV first (container-native, bytes-in), then ``imageio.v3``
    (which itself fronts pyav/ffmpeg), then OpenCV (file-path API —
    bytes spill to a private temp file).  Resolved INSIDE the executor
    kernel so the driver env doesn't have to match the workers."""
    try:
        import av  # noqa: F401

        def _via_av(buf: bytes):
            import io as _io

            import av as _av

            with _av.open(_io.BytesIO(buf)) as c:
                s = c.streams.video[0]
                n = int(s.frames or 0)
                if n == 0:  # container without a frame count: walk it
                    n = sum(1 for _ in c.decode(s))
                return int(s.width), int(s.height), n

        return _via_av
    except ImportError:
        pass
    try:
        import imageio.v3  # noqa: F401

        def _via_imageio(buf: bytes):
            import imageio.v3 as iio

            props = iio.improps(buf, index=...)
            n, h, w = int(props.shape[0]), int(props.shape[1]), int(props.shape[2])
            return w, h, n

        return _via_imageio
    except ImportError:
        pass
    try:
        import cv2  # noqa: F401

        def _via_cv2(buf: bytes):
            import os
            import tempfile

            import cv2 as _cv2

            fd, tmp = tempfile.mkstemp(suffix=".mp4")
            try:
                os.write(fd, buf)
                os.close(fd)
                cap = _cv2.VideoCapture(tmp)
                try:
                    if not cap.isOpened():
                        raise ValueError("unreadable video container")
                    w = int(cap.get(_cv2.CAP_PROP_FRAME_WIDTH))
                    h = int(cap.get(_cv2.CAP_PROP_FRAME_HEIGHT))
                    n = int(cap.get(_cv2.CAP_PROP_FRAME_COUNT))
                finally:
                    cap.release()
                return w, h, n
            finally:
                os.unlink(tmp)

        return _via_cv2
    except ImportError:
        return None


def decode_media(media: DataFrame, video_decoder=None) -> DataFrame:
    """Decode payloads to typed dimensions via soft-imported codecs.

    Per kind: **audio** decodes with the stdlib ``wave`` module
    (always available — RIFF/WAVE header parse, sample/channel
    counts); **image** decodes with PIL when importable; **video**
    decodes through the first importable of ``av`` / ``imageio.v3`` /
    ``cv2`` (``default_video_decoder``) — width, height and frame
    count (frames land in ``n_samples``).  A missing codec or an
    unparseable payload yields ``ok=false`` with the reason in ``err``
    instead of raising — the pipeline contract at 100 TB, where some
    fraction of payloads is always corrupt and a per-row raise would
    kill the job.  The kernel shape (Arrow batches in, flat typed rows
    out) is the same plumbing ``extract_features`` exercises.

    ``video_decoder``: picklable ``bytes -> (width, height, n_frames)``
    override — lets a cluster ship its own codec shim, and lets the
    codec-present branch be tested in codec-free environments."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_zip_importers()
        import io
        import wave

        try:
            from PIL import Image
        except ImportError:
            Image = None
        vdec = (video_decoder if video_decoder is not None
                else default_video_decoder())

        cols = ["media_id", "kind", "ok", "width", "height",
                "n_samples", "n_channels", "err"]
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                mid = int(mid)
                w = h = ns = nc = None
                ok, err = False, None
                buf = bytes(payload) if payload is not None else b""
                try:
                    if kind == "image":
                        if Image is None:
                            err = "codec-unavailable:PIL"
                        else:
                            with Image.open(io.BytesIO(buf)) as im:
                                w, h = int(im.width), int(im.height)
                                nc = len(im.getbands())
                                ok = True
                    elif kind == "audio":
                        with wave.open(io.BytesIO(buf)) as wf:
                            ns = int(wf.getnframes())
                            nc = int(wf.getnchannels())
                            ok = True
                    else:
                        if vdec is None:
                            err = "codec-unavailable:av"
                        else:
                            w, h, ns = (int(x) for x in vdec(buf))
                            ok = True
                except Exception as exc:  # corrupt payload → row, not raise
                    err = f"decode-error:{type(exc).__name__}"
                rows.append((mid, kind, ok, w, h, ns, nc, err))
            out = pd.DataFrame(rows, columns=cols)
            out["media_id"] = out["media_id"].astype("int64")
            out["ok"] = out["ok"].astype(bool)
            for c in ("width", "height", "n_samples", "n_channels"):
                out[c] = out[c].astype("Int32")
            yield out
        trim_zip_importers()

    return media.select("media_id", "kind", "payload").mapInPandas(
        _decode, DECODED_SCHEMA
    )
