"""Multimodal column plumbing: image/audio/video as opaque ``binary``
payloads with typed metadata (engine extension).

The DECODE step (``decode_media``) tries REAL decoders first, each
behind an import/parse guard — PIL for images, soundfile then stdlib
``wave`` for audio — and falls back to a deterministic stub
(``_decode_stub``) when the library is absent or the payload is not
parseable media. The synthetic fixtures carry text bytes as payloads,
so oracle-checked queries always take the stub path and stay
engine-portable; real PNG/WAV bytes get true metadata wherever the
libraries exist (``test_real_wav_decode`` exercises the stdlib-wave
branch hermetically; the PIL branch is opt-in). Everything Spark-side
is real and tested either way: schema, Arrow batch shape,
``mapInPandas`` signature, partition sizing.

Scale notes: payloads ride the executor (never the driver); metadata
extraction is map-only. For very large assets, store payloads out of
band (object store) and keep only URIs + metadata in the DataFrame —
``attach_payload_uri`` models that layout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema of the metadata-extraction stage.
MEDIA_META_SCHEMA = (
    "asset_id long, media_type string, n_bytes long, "
    "width int, height int, duration_ms long, checksum string"
)


def _decode_stub(payload: bytes, media_type: str) -> dict:
    """Deterministic fake decoder. REAL deployments replace this with
    PIL.Image.open / soundfile / ffprobe — the surrounding plumbing
    (batching, schema, partitioning) is identical.

    Derives plausible metadata purely from the byte content so tests are
    reproducible without media libraries.
    """
    n = len(payload)
    if media_type == "image":
        return {"width": 64 + n % 512, "height": 64 + (n // 7) % 512, "duration_ms": 0}
    if media_type == "audio":
        return {"width": 0, "height": 0, "duration_ms": 1000 + n % 60000}
    if media_type == "video":
        return {
            "width": 320 + n % 1280,
            "height": 240 + (n // 3) % 720,
            "duration_ms": 5000 + n % 600000,
        }
    raise NotImplementedError(f"unknown media_type {media_type!r}")


def _try_real_decode(payload: bytes, media_type: str) -> dict | None:
    """Real-decoder seam: returns metadata when a genuine decoder is
    importable AND the payload parses as that media type, else None.

    Guards are per-call (workers import lazily); a truncated/garbage
    payload falls through to the stub rather than failing the batch —
    production pipelines route such rows to a quarantine instead.
    """
    import io

    if media_type == "image":
        try:
            from PIL import Image  # noqa: PLC0415

            with Image.open(io.BytesIO(payload)) as im:
                return {"width": im.width, "height": im.height, "duration_ms": 0}
        except Exception:
            return None
    if media_type == "audio":
        try:
            import soundfile  # noqa: PLC0415

            info = soundfile.info(io.BytesIO(payload))
            return {
                "width": 0,
                "height": 0,
                "duration_ms": int(info.frames * 1000 // info.samplerate),
            }
        except Exception:
            pass
        try:
            import wave  # stdlib — real WAV decode works hermetically

            with wave.open(io.BytesIO(payload)) as w:
                return {
                    "width": 0,
                    "height": 0,
                    "duration_ms": int(w.getnframes() * 1000 // w.getframerate()),
                }
        except Exception:
            return None
    # video: container probing is out-of-process (ffprobe); no in-proc seam
    return None


def decode_media(payload: bytes, media_type: str) -> dict:
    """The decode entry the pipeline stages call: real decoder when
    possible, deterministic stub otherwise (see module docstring)."""
    real = _try_real_decode(payload, media_type)
    return real if real is not None else _decode_stub(payload, media_type)


def extract_media_meta(df: DataFrame) -> DataFrame:
    """``mapInPandas`` metadata extraction over binary payloads.

    Input needs columns: asset_id, media_type, payload (binary).
    Arrow-batched: each pandas batch holds whole payloads; cap batch
    bytes via ``spark.sql.execution.arrow.maxRecordsPerBatch`` when
    assets are large.
    """
    import hashlib

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                decode_media(p if p is not None else b"", mt)
                for p, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "duration_ms": [m["duration_ms"] for m in metas],
                    "checksum": [
                        hashlib.md5(p if p is not None else b"").hexdigest()
                        for p in pdf["payload"]
                    ],
                }
            )

    return df.mapInPandas(_extract, schema=MEDIA_META_SCHEMA)


#: Output schema of the feature-extraction stage.
MEDIA_FEATURES_SCHEMA = (
    "asset_id long, media_type string, "
    "f0 long, f1 long, f2 long, f3 long, "
    "resized_w int, resized_h int"
)

#: Resize target (the usual vision-model input clamp).
RESIZE_MAX = 224


def extract_media_features(df: DataFrame) -> DataFrame:
    """``mapInPandas`` decode → feature-extract → resize stage.

    Real deployments decode the payload (PIL / torchvision) and run a
    vision encoder; here the "embedding" is four 32-bit words of the
    payload md5 (deterministic, testable) and "resize" clamps the
    decoded dimensions to ``RESIZE_MAX`` — the plumbing (schema, Arrow
    batching, partition-parallel map) is the production shape.
    """
    import hashlib

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [p if p is not None else b"" for p in pdf["payload"]]
            digests = [hashlib.md5(p).hexdigest() for p in payloads]
            metas = [
                decode_media(p, mt) for p, mt in zip(payloads, pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    **{
                        f"f{i}": [int(d[8 * i : 8 * i + 8], 16) for d in digests]
                        for i in range(4)
                    },
                    "resized_w": [min(m["width"], RESIZE_MAX) for m in metas],
                    "resized_h": [min(m["height"], RESIZE_MAX) for m in metas],
                }
            )

    return df.mapInPandas(_extract, schema=MEDIA_FEATURES_SCHEMA)


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as fake media payloads so the
    multimodal plumbing is exercisable on the synthetic ``documents``
    table (doc_id → asset_id, utf-8 bytes → payload)."""
    return df.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


#: Output schema of the frame-sampling stage (one row PER FRAME).
FRAME_SAMPLE_SCHEMA = (
    "asset_id long, frame_idx int, t_ms long, frame_checksum string"
)

#: Sampling policy: 1 frame/second, capped per asset.
FRAME_SAMPLE_MAX = 8


def sample_frames(df: DataFrame) -> DataFrame:
    """``mapInPandas`` video frame sampling — the one-to-MANY multimodal
    stage (each input asset emits 0..N frame rows, so the Arrow batch
    shape changes cardinality, unlike the 1:1 decode/feature stages).

    Real deployments seek the container (ffmpeg) at t_ms and decode a
    frame; the stub derives the frame count from the stub decoder's
    duration (1 fps capped at ``FRAME_SAMPLE_MAX``) and fingerprints
    each frame as md5(payload ++ ':' ++ frame_idx) — deterministic and
    reproducible in any engine, so the fan-out plumbing is fully
    value-checked. Non-video assets emit no rows (filter-by-emptiness).
    """
    import hashlib

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "asset_id": [],
                "frame_idx": [],
                "t_ms": [],
                "frame_checksum": [],
            }
            for aid, mt, p in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                if mt != "video":
                    continue
                payload = p if p is not None else b""
                meta = decode_media(payload, "video")
                n_frames = min(meta["duration_ms"] // 1000, FRAME_SAMPLE_MAX)
                for i in range(int(n_frames)):
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(i)
                    out["t_ms"].append(i * 1000)
                    out["frame_checksum"].append(
                        hashlib.md5(payload + b":" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(_sample, schema=FRAME_SAMPLE_SCHEMA)


#: Output schema of the audio-chunking stage (one row PER CHUNK).
AUDIO_CHUNK_SCHEMA = (
    "asset_id long, chunk_idx int, start_ms long, end_ms long, "
    "chunk_checksum string"
)

#: Chunking policy: 5 s windows, 4 s hop (1 s overlap), capped per asset.
AUDIO_CHUNK_WINDOW_MS = 5000
AUDIO_CHUNK_HOP_MS = 4000
AUDIO_CHUNK_MAX = 12


def chunk_audio(df: DataFrame) -> DataFrame:
    """``mapInPandas`` audio chunking — the speech-pipeline one-to-many
    stage (ASR/diarization consume overlapping fixed windows, not whole
    files): each audio asset emits ceil-div windows of 5 s with a 4 s
    hop, capped, with exact start/end bounds and per-chunk
    fingerprints.

    Real deployments decode with soundfile/ffmpeg and slice samples;
    the stub derives duration from the byte content (same rule as the
    decode stub) so the fan-out plumbing — batching, schema,
    cardinality change, checksum determinism — is fully value-checked
    against the oracle's arithmetic mirror. Non-audio assets emit no
    rows.
    """
    import hashlib

    def _chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "asset_id": [],
                "chunk_idx": [],
                "start_ms": [],
                "end_ms": [],
                "chunk_checksum": [],
            }
            for aid, mt, p in zip(
                pdf["asset_id"], pdf["media_type"], pdf["payload"]
            ):
                if mt != "audio":
                    continue
                payload = p if p is not None else b""
                d = decode_media(payload, "audio")["duration_ms"]
                if d <= AUDIO_CHUNK_WINDOW_MS:
                    n_chunks = 1
                else:
                    n_chunks = 1 + -(-(d - AUDIO_CHUNK_WINDOW_MS) // AUDIO_CHUNK_HOP_MS)
                n_chunks = min(n_chunks, AUDIO_CHUNK_MAX)
                for i in range(int(n_chunks)):
                    start = i * AUDIO_CHUNK_HOP_MS
                    out["asset_id"].append(aid)
                    out["chunk_idx"].append(i)
                    out["start_ms"].append(start)
                    out["end_ms"].append(min(start + AUDIO_CHUNK_WINDOW_MS, d))
                    out["chunk_checksum"].append(
                        hashlib.md5(
                            payload + b":chunk:" + str(i).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(_chunk, schema=AUDIO_CHUNK_SCHEMA)


#: Output schema of the perceptual-hash stage.
PHASH_SCHEMA = "asset_id long, media_type string, phash long"


def phash_media(df: DataFrame) -> DataFrame:
    """Perceptual 64-bit hash per asset (``mapInPandas`` decode-side
    stage): real deployments compute pHash/aHash on decoded pixels or
    audio chroma; the stub computes a SIMHASH over the payload's byte
    4-grams — which is the same estimator family (locality-sensitive:
    similar payloads → small hamming distance), deterministic, and
    exercises the identical Arrow plumbing. Near-dup pairing on the
    result is REAL pipeline logic either way: band the 64 bits into
    4×16-bit keys, equi-join on (band, key), verify hamming ≤ radius."""
    import hashlib

    import numpy as np

    def _phash_one(b: bytes) -> int:
        """Bit-identical to the original per-bit Python loop, with the
        64-wide vote accumulation vectorized in numpy (guide §4.2 —
        the per-gram md5 is the only remaining per-element Python
        call). Original semantics: h = big-endian uint64 of digest[:8];
        vote j += ±1 on (h >> j) & 1; sign-pack votes into 64 bits."""
        n = len(b) - 3
        if n <= 0:
            return 0
        digs = np.frombuffer(
            b"".join(hashlib.md5(b[i : i + 4]).digest()[:8] for i in range(n)),
            dtype=np.uint8,
        ).reshape(n, 8)
        # (h >> j) & 1 over a big-endian byte block == little-bitorder
        # unpack of the REVERSED bytes: column j is exactly bit j of h
        bits = np.unpackbits(digs[:, ::-1], axis=1, bitorder="little")
        votes = bits.sum(axis=0, dtype=np.int64) * 2 - n
        v = int.from_bytes(
            np.packbits(votes > 0, bitorder="little").tobytes(), "little"
        )
        # two's-complement into a signed 64-bit long
        return v - (1 << 64) if v >= (1 << 63) else v

    def _phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _phash_one(p if p is not None else b"")
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "phash": pd.Series(out, dtype="int64"),
                }
            )

    return df.mapInPandas(_phash, schema=PHASH_SCHEMA)


def phash_near_dup_pairs(hashed: DataFrame, radius: int = 6) -> DataFrame:
    """Banded near-dup pairing on 64-bit perceptual hashes: any two
    hashes within hamming ``radius`` ≤ 15 share at least one intact
    16-bit band (pigeonhole over 4 bands), so the candidate join is an
    equi-join on (band, 16-bit key) — never all-pairs — and the
    verify step is a JVM ``bit_count(xor)`` on candidates only."""
    # ONE pass over the Python hash stage: a union-of-selects would
    # re-derive the mapInPandas lineage once per band per join side
    # (8 Arrow seams measured); the explode keeps it to one per side
    banded = hashed.select(
        "asset_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bkey"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("asset_id", "phash", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    a = banded.select(
        F.col("asset_id").alias("id_a"),
        F.col("phash").alias("ha"),
        "band",
        "bkey",
    )
    b = banded.select(
        F.col("asset_id").alias("id_b"),
        F.col("phash").alias("hb"),
        "band",
        "bkey",
    )
    cand = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    ).filter(F.col("hamming") <= radius).select("id_a", "id_b", "hamming")
