"""Arrow-vectorized pandas UDFs around the codec kernels.

These are the engine's only Python kernels (SURVEY.md §2 ops 23, 32-42);
everything else is built-in Catalyst expressions.  Two design rules for
100 TB scale:

* **Fused hot path.**  ``encode_chunks`` chunk-splits, RS-protects,
  checksums and Goldman-encodes a document in ONE Arrow round trip,
  returning the full chunk-struct array.  The alternative (explode, then
  one UDF per field) would cross the Python boundary four times per chunk.
  ``decode_chunks`` reconstructs a whole document the same way, which lets
  the round-trip pipeline run with ZERO shuffles (chunks never leave their
  document's row until the caller explicitly asks for a chunk table).
* **One Arrow pass per task for the round trip.**  The pipeline's
  encode-then-verify (``make_encode_verify``) builds the chunks AND decodes
  them back in the same Python call, returning ``struct(chunks,
  reconstructed_text)`` from the document's bytes, decoded once per row.
  A pandas UDF costs a fixed ~50 ms per task on a 4-core host (worker
  hand-off, Arrow framing) whatever it computes, so two chained UDFs paid
  that twice per partition.  ``decode_chunks`` and the
  fused UDF share :func:`rebuild_text`, so there is one implementation of
  the round trip.
* **Fine-grained UDFs stay available** (``dna_encode`` etc.) and are SQL
  registered, because chunk-level relational work (validation filters,
  per-chunk sinks) composes better from small pieces.

Reference parity: chunk fields and formats match
``/root/reference/plugins/utils/dna_encoding.py:270-335`` (see codec/).
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..codec import chunker, goldman, reed_solomon

CHUNK_FIELDS = [
    StructField("chunk_id", StringType()),
    StructField("index", IntegerType()),
    StructField("dna_sequence", StringType()),
    StructField("original_length_bytes", IntegerType()),
    StructField("error_correction_code", BinaryType()),
    StructField("checksum", StringType()),
    StructField("chunk_size", IntegerType()),
]
CHUNK_STRUCT = StructType(CHUNK_FIELDS)


@pandas_udf(StringType())
def dna_encode(data: pd.Series) -> pd.Series:
    """binary -> Goldman DNA string (ops 32+36+38)."""
    return data.map(lambda b: goldman.bytes_to_dna(b) if b is not None else None)


@pandas_udf(BinaryType())
def dna_decode(seq: pd.Series, target_len: pd.Series) -> pd.Series:
    """DNA string + original byte length -> binary (ops 33+37+39)."""
    return pd.Series(
        [
            goldman.dna_to_bytes(s, int(n)) if s is not None else None
            for s, n in zip(seq, target_len)
        ]
    )


@pandas_udf(BinaryType())
def rs_parity(data: pd.Series) -> pd.Series:
    """binary -> Reed-Solomon tail, reference-compatible (op 41)."""
    return data.map(
        lambda b: reed_solomon.rs_parity_tail(b, chunker.DEFAULT_RS_NSYM)
        if b is not None
        else None
    )


@pandas_udf(BinaryType())
def rs_encode_stream(data: pd.Series) -> pd.Series:
    """binary -> full systematic RS stream (payload + interleaved parity).

    Unlike :func:`rs_parity` (the reference's stored artifact,
    ``/root/reference/plugins/utils/dna_encoding.py:232-248``), this keeps
    payload and parity together so the stream is self-repairing -- the form
    :func:`rs_repair` consumes (op 42)."""
    return data.map(
        lambda b: reed_solomon.rs_encode(b, chunker.DEFAULT_RS_NSYM)
        if b is not None
        else None
    )


@pandas_udf(BinaryType())
def corrupt_bytes(data: pd.Series, seed: pd.Series) -> pd.Series:
    """Deterministically flip 3 distinct bytes (XOR 0x5A) at seed-derived
    positions -- the error-injection harness for the repair path.  With
    nsym=10 RS corrects up to 5 errors per 255-byte codeword, so 3 flips
    are always recoverable regardless of how they fall across blocks."""

    def _corrupt(b: Optional[bytes], s) -> Optional[bytes]:
        if b is None:
            return None
        buf = bytearray(b)
        n = len(buf)
        if n == 0:
            return b
        k = min(3, n)
        p0 = int(s) % n
        for j in range(k):
            buf[(p0 + j * (n // k)) % n] ^= 0x5A
        return bytes(buf)

    return pd.Series([_corrupt(b, s) for b, s in zip(data, seed)])


@pandas_udf(BinaryType())
def rs_repair(encoded: pd.Series) -> pd.Series:
    """Correct a full rs_encode stream; None when uncorrectable (op 42)."""
    def _repair(b: Optional[bytes]) -> Optional[bytes]:
        if b is None:
            return None
        try:
            return reed_solomon.rs_decode(b, chunker.DEFAULT_RS_NSYM)
        except reed_solomon.RSError:
            return None

    return encoded.map(_repair)


def _as_tuples(records: list[dict]) -> list[tuple]:
    """``chunker.build_chunks`` records as ``CHUNK_STRUCT``-ordered tuples."""
    return [tuple(r[f.name] for f in CHUNK_FIELDS) for r in records]


def rebuild_text(chunks) -> Optional[str]:
    """Order-sensitive reassembly of one document (SURVEY.md op 21): sort by
    index, decode each chunk to bytes at its original width, check its md5,
    concatenate, decode UTF-8.  ``chunks`` is any sequence of mappings with
    the chunk-struct field names.  Returns None when any chunk fails its
    checksum or the bytes are not UTF-8 -- the pipeline routes that to the
    DLQ."""
    if chunks is None:
        return None
    try:
        pieces = []
        for c in sorted(chunks, key=lambda c: c["index"]):
            raw = goldman.dna_to_bytes(
                c["dna_sequence"], int(c["original_length_bytes"])
            )
            if hashlib.md5(raw).hexdigest() != c["checksum"]:
                return None
            pieces.append(raw)
        return b"".join(pieces).decode("utf-8")
    except Exception:  # a malformed chunk fails its document, not the task
        return None


@pandas_udf(ArrayType(CHUNK_STRUCT))
def encode_chunks(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """The fused text -> array<chunk struct> UDF at the default chunk size
    and Reed-Solomon parity (:func:`chunker.build_chunks`)."""
    for texts in batches:
        yield pd.Series(
            [None if t is None else _as_tuples(chunker.build_chunks(t))
             for t in texts]
        )


ENCODE_VERIFY_STRUCT = StructType([
    StructField("chunks", ArrayType(CHUNK_STRUCT)),
    StructField("reconstructed_text", StringType()),
])


def make_encode_verify(chunk_size: int = chunker.DEFAULT_CHUNK_SIZE,
                       nsym: int = chunker.DEFAULT_RS_NSYM):
    """Build the fused encode-then-verify UDF: bytes -> ``struct(chunks,
    reconstructed_text)``, where ``chunks`` equals ``encode_chunks``'s
    output and ``reconstructed_text`` equals ``decode_chunks(chunks)``, both
    computed in one Arrow pass; both NULL when the bytes are not UTF-8."""

    @pandas_udf(ENCODE_VERIFY_STRUCT)
    def _encode_verify(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for docs in batches:
            chunks, rebuilt = [], []
            for raw in docs:
                try:  # NULL or not UTF-8: this row fails, not the Arrow batch
                    t = None if raw is None else raw.decode("utf-8")
                except UnicodeDecodeError:
                    t = None
                records = None if t is None else chunker.build_chunks(t, chunk_size, nsym)
                chunks.append(None if records is None else _as_tuples(records))
                rebuilt.append(rebuild_text(records))
            yield pd.DataFrame({"chunks": chunks, "reconstructed_text": rebuilt})

    return _encode_verify


@pandas_udf(StringType())
def decode_chunks(chunks: pd.Series) -> pd.Series:
    """array<chunk struct> -> reconstructed document text
    (:func:`rebuild_text` per row)."""
    return pd.Series([rebuild_text(a) for a in chunks])


def make_chunk_text_udtf():
    """The UTF-8-safe byte chunker as a real Python UDTF (SURVEY.md op 23
    is "UDTF-shaped": 1 text row -> N chunk rows).  SQL usage:

        SELECT d.doc_id, c.* FROM docs d,
        LATERAL chunk_text(d.text, 40) c

    Emits the text piece per chunk (not the DNA -- that is what
    ``encode_chunks`` fuses); useful for any byte-budget splitting, not
    just the codec path.  A budget smaller than a character's UTF-8
    width cuts it into pieces that are not UTF-8 on their own: such a
    piece has a NULL ``chunk_text`` and keeps its id, index and size."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id string, index int, chunk_text string, n_bytes int")
    class ChunkText:
        def eval(self, text: Optional[str], chunk_size: int):
            if text is None:
                return
            for i, piece in enumerate(chunker.chunk_utf8_bytes(text, chunk_size)):
                try:
                    piece_text = piece.decode("utf-8")
                except UnicodeDecodeError:
                    piece_text = None
                yield (f"dna_chunk_{i:03d}", i, piece_text, len(piece))

    return ChunkText


def register_all(spark: SparkSession) -> None:
    """Register every codec UDF (and the chunker UDTF) for SQL use."""
    spark.udf.register("dna_encode", dna_encode)
    spark.udf.register("dna_decode", dna_decode)
    spark.udf.register("rs_parity", rs_parity)
    spark.udf.register("rs_encode_stream", rs_encode_stream)
    spark.udf.register("rs_repair", rs_repair)
    spark.udf.register("encode_chunks", encode_chunks)
    spark.udf.register("decode_chunks", decode_chunks)
    spark.udtf.register("chunk_text", make_chunk_text_udtf())
