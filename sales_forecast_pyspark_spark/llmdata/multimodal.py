"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed in Arrow batches via mapInPandas.

Feature extraction reads deterministic metadata from the raw bytes
(no imaging library), so the Spark-side contract (schema, batch shape,
partition behavior) is real, tested, and oracle-stable everywhere.

Scale notes: mapInPandas streams Arrow record batches through Python —
memory is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``,
not partition size, which is what makes binary columns viable; keep
binary payloads out of shuffle keys and aggregate on the extracted
metadata instead.
"""

# NOTE: no `from __future__ import annotations` — it stringifies type
# hints module-wide and breaks pandas-UDF signature inspection.
import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType


def attach_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary content column (here: utf-8 bytes of
    the text — a stand-in for image/audio payloads) plus a media-type
    tag, the schema shape a multimodal table needs."""
    return df.select(
        "*",
        F.col(text_col).cast("binary").alias("content"),
        F.lit("application/octet-stream").alias("media_type"),
    )


def _out_schema(df: DataFrame, id_col: str, fields: list[StructField]) -> StructType:
    """Output schema for the mapInPandas extractors: the id field is
    copied (name AND type) from the input so callers with non-long or
    differently-named ids round-trip instead of hitting a silent rename
    or an Arrow type error at execution time."""
    id_field = df.schema[id_col]
    return StructType([id_field, *fields])


def extract_features(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """mapInPandas feature extraction over binary content: byte length,
    md5, 4-byte header hex, and fake-decoded dimensions. One Arrow
    round-trip per batch; output schema declared up front, id column
    carried through by name and type."""
    import pandas as pd

    schema = _out_schema(
        df,
        id_col,
        [
            StructField("n_bytes", IntegerType()),
            StructField("content_md5", StringType()),
            StructField("header_hex", StringType()),
            StructField("fake_width", IntegerType()),
            StructField("fake_height", IntegerType()),
        ],
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf[content_col]
            n_bytes = content.map(len)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes.astype("int32"),
                    "content_md5": content.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "header_hex": content.map(lambda b: bytes(b)[:4].hex()),
                    "fake_width": n_bytes.map(lambda n: n % 1024 + 1).astype("int32"),
                    "fake_height": n_bytes.map(lambda n: (n * 7) % 1024 + 1).astype(
                        "int32"
                    ),
                }
            )

    return df.select(id_col, content_col).mapInPandas(_extract, schema)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
    content_col: str = "content",
    frame_decoder=None,
) -> DataFrame:
    """Frame sampling — the one-row-to-k-rows multimodal shape (video →
    evenly spaced frames): each input row yields ``n_frames`` rows of
    (id, frame_idx, frame_bytes) through one Arrow round-trip.

    ``frame_decoder(content) -> list[bytes]`` plugs in a real container
    decoder where one exists; the default is a deterministic byte-range
    chunker (evenly spaced, contiguous, lossless — chunks concatenate
    back to the payload), so the Spark-side plumbing — fan-out schema,
    Arrow batch shape, downstream per-frame processing — is real and
    tested in any environment. Memory stays bounded by Arrow batch size
    × n_frames, not by partition size."""
    import pandas as pd

    from pyspark.sql.types import BinaryType, LongType

    schema = _out_schema(
        df,
        id_col,
        [
            StructField("frame_idx", IntegerType()),
            StructField("frame_bytes", BinaryType()),
            StructField("frame_len", LongType()),
        ],
    )

    def _chunk(b) -> list[bytes]:
        raw = bytes(b)
        if frame_decoder is not None:
            return list(frame_decoder(raw))
        bounds = [len(raw) * i // n_frames for i in range(n_frames + 1)]
        return [raw[bounds[i]:bounds[i + 1]] for i in range(n_frames)]

    def _sample(batches):
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, b in zip(pdf[id_col], pdf[content_col]):
                for j, fr in enumerate(_chunk(b)):
                    ids.append(i)
                    idxs.append(j)
                    frames.append(fr)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_bytes": frames,
                    "frame_len": pd.Series([len(f) for f in frames], dtype="int64"),
                }
            )

    return df.select(id_col, content_col).mapInPandas(_sample, schema)


