"""Multimodal column plumbing.

Treats media as opaque ``binary`` payloads with typed metadata, the way
a 100 TB multimodal training pipeline stores image/audio/video next to
text. The Spark-side plumbing (schema, batch shape, partitioning, Arrow
transfer) is real and tested; the actual decode is stubbed because no
image/audio libraries exist in this container — the stub is a
deterministic fake so tests can assert the full pipeline shape.

The testdata has no binary column, so ``with_payload`` materializes one
by encoding the document text; in production this column would come
straight from parquet.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def with_payload(t: dict[str, DataFrame]) -> DataFrame:
    """Attach an opaque binary payload column + typed metadata."""
    d = t["documents"]
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.length(payload).alias("payload_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
    )


def multimodal_meta(t: dict[str, DataFrame]) -> DataFrame:
    """Payload metadata projection — the oracle-checkable part."""
    return with_payload(t).select("doc_id", "payload_bytes", "payload_sha256")


# Deterministic fake decode geometry: (len % 640 + 1, len % 480 + 1,
# len % 30 + 1). The stub is the ORACLE TWIN — the registry pins it so
# the Arrow plumbing stays hash-verified; the real decoder rides the
# same mapInPandas seam behind a runtime probe (below).
ALLOW_FAKE_DECODE = True


def pil_available() -> bool:
    """Runtime probe for a FULL image decoder (PIL). No image library
    ships in this container, so the probe reports False here — in a
    richer environment the same seam upgrades to full-format decoding
    with no plan/schema change. This mirrors the lakehouse probe
    pattern (tests/test_pipeline.py): document the environmental gap
    with an executable check instead of a comment."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except Exception:
        return False


def _make_bmp_parser():
    """Factory for the pure-Python uncompressed-BMP header parser.

    Built by a factory so the returned closure's qualname is not
    importable: cloudpickle then serializes it BY VALUE into worker
    closures instead of by module reference (which would require the
    executor's Python worker to import this package — it cannot when
    the driver launches from a foreign cwd; see the closure note in
    ``decode_media``). Geometry is pure header arithmetic — exactly
    why the real branch is SQL-mirrorable and can carry a full DuckDB
    oracle (``multimodal_decode_bmp``).
    """

    def bmp_geometry(payload: bytes):
        """(width, height, n_frames) for an uncompressed BMP, else
        None. Handles BITMAPINFOHEADER (and larger V4/V5 headers —
        same fixed field offsets) plus the legacy BITMAPCOREHEADER;
        rejects compressed pixel formats and truncated headers the way
        a production decoder rejects corrupt media."""
        import struct

        if len(payload) < 26 or payload[:2] != b"BM":
            return None
        (dib,) = struct.unpack_from("<I", payload, 14)
        if dib == 12:  # BITMAPCOREHEADER: uint16 geometry, no compression field
            w, h = struct.unpack_from("<HH", payload, 18)
            return (int(w), int(h), 1) if w > 0 and h > 0 else None
        if dib >= 40 and len(payload) >= 14 + 40:
            w, h = struct.unpack_from("<ii", payload, 18)
            (comp,) = struct.unpack_from("<I", payload, 30)
            if comp != 0 or w <= 0 or h == 0:  # BI_RGB only
                return None
            # negative height = top-down row order; geometry is abs —
            # the same way PIL reports it
            return (int(w), abs(int(h)), 1)
        return None

    return bmp_geometry


bmp_geometry = _make_bmp_parser()


def decode_media(df: DataFrame, mode: str = "stub") -> DataFrame:
    """mapInPandas decode: Arrow-batched, one Python worker per partition.

    This is the canonical shape for CPU-bound media work on Spark: the
    binary column arrives as a pandas Series of bytes per batch; the UDF
    is free to call native decoders. Partition count (not row count)
    bounds Python-process parallelism, so upstream ``repartition`` sizes
    the decode stage.

    ``mode``:
      - ``"stub"`` (default, registry/oracle-pinned for the generic
        payload query): deterministic length-derived geometry — the
        hash-verifiable twin for arbitrary payloads;
      - ``"real"``: actually parse the bytes on the executors — the
        PIL tier when the library is present, else the built-in
        pure-Python uncompressed-BMP parser (``bmp_geometry``), so the
        real branch executes even in this container and carries its
        own full oracle (``multimodal_decode_bmp``). Undecodable
        payloads yield NULL geometry — the production behavior for
        corrupt media (a raise inside the worker would kill the whole
        job for one bad file at 100 TB);
      - ``"auto"``: ``real`` when a FULL decoder (PIL) is present,
        else the stub — the BMP-only tier is not a general-media
        decoder, so auto does not route arbitrary payloads to it.
    """
    if mode == "auto":
        mode = "real" if pil_available() else "stub"

    # Capture everything the worker needs as CLOSURE-LOCAL values: a
    # module-level reference (e.g. ALLOW_FAKE_DECODE) would be
    # cloudpickled by module name and the executor Python worker would
    # have to import this package — which fails whenever the driver
    # process didn't launch from the repo root (exactly how the round
    # driver runs). Nested defs + captured plain values pickle by value
    # and need nothing importable but pandas (and PIL in real mode,
    # imported lazily INSIDE the worker fn — a plain installed package,
    # not this repo).
    allow_fake = ALLOW_FAKE_DECODE
    use_real = mode == "real"
    parse_bmp = bmp_geometry  # factory-made closure: pickles by value

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def stub(payload: bytes) -> tuple[int | None, int | None, int | None]:
            if not allow_fake:
                raise NotImplementedError(
                    "media decode requires image/audio libs"
                )
            n = len(payload)
            return (n % 640 + 1, n % 480 + 1, n % 30 + 1)

        def real(payload: bytes) -> tuple[int | None, int | None, int | None]:
            try:
                import io

                import PIL.Image
            except ImportError:
                geo = parse_bmp(bytes(payload))
                return geo if geo is not None else (None, None, None)
            try:
                with PIL.Image.open(io.BytesIO(payload)) as img:
                    return (
                        int(img.width),
                        int(img.height),
                        int(getattr(img, "n_frames", 1)),
                    )
            except Exception:
                return (None, None, None)

        decode = real if use_real else stub
        for pdf in batches:
            decoded = [decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_bytes": [len(p) for p in pdf["payload"]],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=DECODED_SCHEMA
    )


def bmp_payloads(t: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, payload): a VALID uncompressed 24-bit BMP per document,
    geometry derived from the text's byte length (w = n%64+1,
    h = n%48+1, rows padded to 4-byte stride, zeroed pixels).

    This is the test-harness twin of a real binary media column: the
    bytes are genuine BMP files a real decoder parses, yet every
    header field is integer arithmetic over octet_length(text), so the
    DuckDB oracle can reproduce the decoded geometry from first
    principles — which is what lets ``multimodal_decode_bmp`` give the
    REAL decode branch a full value-hash check instead of the
    rows-only trust the opaque stub would get.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def make(n: int) -> bytes:
            w, h = n % 64 + 1, n % 48 + 1
            stride = ((w * 3 + 3) // 4) * 4
            size = 54 + stride * h
            header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
            dib = struct.pack(
                "<IiiHHIIiiII",
                40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0,
            )
            return header + dib + bytes(stride * h)

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        make(len(s.encode("utf-8"))) for s in pdf["text"]
                    ],
                }
            )

    return t["documents"].select("doc_id", "text").mapInPandas(
        batches, schema="doc_id long, payload binary"
    )


def multimodal_decode_bmp(t: dict[str, DataFrame]) -> DataFrame:
    """END-TO-END real-decode query: build genuine BMP bytes per
    document, push them through ``decode_media(mode='real')`` — the
    branch that PARSES the payload (PIL tier when present, the
    built-in BMP parser here) — and emit the decoded geometry. The
    oracle recomputes every field from octet_length(text) header
    arithmetic, so a wrong parser (offset, endianness, stride) fails
    the value hash, not just a pytest."""
    return decode_media(bmp_payloads(t), mode="real")


# The three ops below keep the same mapInPandas/Arrow shape as
# decode_media but their stub math is chosen to be EXPRESSIBLE IN SQL
# (hashes + arithmetic over payload bytes), so each gets a full DuckDB
# oracle: the driver hash-checks that the Python/Arrow round trip is
# value-exact, a strictly stronger signal than the rows-only check the
# opaque decode stub gets. Swapping the stub for PIL/ffmpeg changes the
# lambda body only — schema, batching, and partitioning stay as tested.

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("orig_width", T.IntegerType()),
        T.StructField("orig_height", T.IntegerType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
    ]
)


def resize_images(df: DataFrame, max_w: int = 224, max_h: int = 224) -> DataFrame:
    """Fit-in-box resize plan for every image payload (aspect preserved,
    never upscaled) — the standard pre-training normalization pass.
    Stub geometry derives from payload length exactly like
    the decode stub; integer math only, so the oracle reproduces it.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                n = len(p)
                w, h = n % 640 + 1, n % 480 + 1
                # integer-scaled fit: scale = min(max_w/w, max_h/h, 1)
                # expressed as exact integer arithmetic (floor divisions)
                if w <= max_w and h <= max_h:
                    nw, nh = w, h
                elif w * max_h >= h * max_w:  # width-bound
                    nw, nh = max_w, max(1, (h * max_w) // w)
                else:
                    nw, nh = max(1, (w * max_h) // h), max_h
                rows.append((doc_id, w, h, nw, nh))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "orig_width", "orig_height",
                    "new_width", "new_height",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(batches, RESIZED_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_key", T.StringType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 5) -> DataFrame:
    """Every ``every_n``-th frame of each video payload — the 1→N fanout
    shape (one input row yields a variable number of frame rows inside
    the Arrow batch). Frame count is the stub decode's n_frames; the
    frame key is md5 over (payload sha256, frame index), so the oracle
    can rebuild every row."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple[int, int, str]] = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(p) % 30 + 1
                sha = hashlib.sha256(p).hexdigest()
                for idx in range(0, n_frames, every_n):
                    key = hashlib.md5(f"{sha}-{idx}".encode()).hexdigest()
                    out.append((doc_id, idx, key))
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame_key"])

    return df.select("doc_id", "payload").mapInPandas(batches, FRAMES_SCHEMA)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Fixed-dimension feature vector per payload (the featurizer slot —
    CLIP/ResNet in production). Stub embedding = the first ``dim`` bytes
    of the payload's sha256 scaled to [0, 1]; deterministic, dense, and
    SQL-reproducible, so the oracle verifies the Arrow float round trip
    bit-for-bit (the output feeds the similarity operators'
    array<double> contract)."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                [b / 255.0 for b in hashlib.sha256(p).digest()[:dim]]
                for p in pdf["payload"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": feats})

    return df.select("doc_id", "payload").mapInPandas(batches, FEATURES_SCHEMA)
