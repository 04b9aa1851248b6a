"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns; decode / feature-extract
/ resize / frame-sample run as Arrow-batched `mapInPandas` stages.
The codec is probed at RUNTIME: when PIL is importable on the
executor, payloads that decode as real images report their true
dimensions; otherwise (or for undecodable payloads) `_decode_stub`
produces deterministic fake dimensions from the byte length — so the
Spark-side plumbing (schema, batch iteration, partitioning) is
identical with and without the imaging stack, and the same tests pass
both ways.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

META_SCHEMA = "doc_id long, n_bytes long, width long, height long"


def _pil_image_module():
    """Runtime probe for the optional imaging stack (executor-side;
    never a hard dependency)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except Exception:  # noqa: BLE001 — absent or broken install
        return None


def _decode_stub(payload: bytes) -> tuple[int, int]:
    """Deterministic fake decode: dims derived from byte length (the
    fallback when PIL is absent or the payload isn't a real image)."""
    n = len(payload)
    return n % 640, (n * 7) % 480


def _decode_dims(payload: bytes, image_mod) -> tuple[int, int]:
    """Real decode when possible, stub otherwise."""
    if image_mod is not None:
        import io

        try:
            with image_mod.open(io.BytesIO(payload)) as im:
                return int(im.width), int(im.height)
        except Exception:  # noqa: BLE001 — not a decodable image
            pass
    return _decode_stub(payload)


def extract_meta(blobs: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction over binary payloads.  With PIL
    on the executors, real images get true dimensions; everything else
    takes the vectorized deterministic-stub path."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        image_mod = _pil_image_module()
        for pdf in batches:
            lens = pdf["payload"].map(len)
            if image_mod is None:
                width = (lens % 640).astype("int64")
                height = ((lens * 7) % 480).astype("int64")
            else:
                dims = [_decode_dims(p, image_mod)
                        for p in pdf["payload"]]
                width = pd.Series([d[0] for d in dims], index=pdf.index,
                                  dtype="int64")
                height = pd.Series([d[1] for d in dims], index=pdf.index,
                                   dtype="int64")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": lens.astype("int64"),
                "width": width,
                "height": height,
            })

    return blobs.mapInPandas(_extract, META_SCHEMA)


def frame_sample(blobs: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: emits (doc_id, frame_idx,
    frame_bytes) rows; frame extraction itself is the stub (slices of
    the payload stand in for decoded frames)."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"].to_numpy()
            n_rows = len(payloads)
            lens = np.fromiter((len(p) for p in payloads),
                               dtype=np.int64, count=n_rows)
            counts = np.minimum(every_n, lens)
            steps = np.maximum(1, lens // max(1, every_n))
            rep_row = np.repeat(np.arange(n_rows), counts)
            rep_doc = np.repeat(pdf["doc_id"].to_numpy(), counts)
            total = int(counts.sum())
            # per-frame index within each doc: global arange minus the
            # repeated per-doc offset (vectorized grouped cumcount)
            idx = np.arange(total) - np.repeat(counts.cumsum() - counts,
                                               counts)
            starts = idx * steps[rep_row]
            ends = starts + steps[rep_row]
            # the byte-slice materialization below stands in for the
            # per-frame codec call (stubbed; see module docstring) —
            # all offset arithmetic above is vectorized
            frames = [bytes(payloads[r][s:e])
                      for r, s, e in zip(rep_row, starts, ends)]
            yield pd.DataFrame({"doc_id": rep_doc,
                                "frame_idx": idx.astype(np.int32),
                                "frame_bytes": frames})

    return blobs.mapInPandas(_sample,
                             "doc_id long, frame_idx int, frame_bytes binary")


def fake_embedding_cols():
    """Four deterministic placeholder features of the binary
    ``payload``, built entirely from JVM-side expressions (md5 + conv —
    whole-stage codegen, no Python in the hot path).  On a real
    cluster the md5-derived features are replaced by a model forward
    pass (Arrow-batched pandas UDF); the column shape (binary ->
    fixed-width float features) and everything downstream stay
    identical.

    feature_k = (int(md5(payload || str(k))[:8], 16) % 1e6) / 1e6
    """
    from pyspark.sql import functions as F

    cols = []
    for k in range(4):
        h = F.md5(F.concat(F.col("payload"),
                           F.lit(str(k)).cast("binary")))
        v = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
             % 1000000) / 1000000.0
        cols.append(v.alias(f"f{k}"))
    return cols
