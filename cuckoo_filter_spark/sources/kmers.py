"""Genome k-mer key sources (reference §2.5 parity).

The reference's only real ingest pipeline 2-bit-packs DNA k-mers
into uint64 keys (``/root/reference/src/kmc_to_binary.cpp:17-46``:
A=00 C=01 G=10 T=11, big-endian shift-accumulate, invalid char →
sentinel) and its benchmarks load that binary format — a uint64
count followed by N packed uint64s (``loadKmerFile``). Spark-first
equivalents:

* :func:`packed_kmer_expr` — the 2-bit pack as a pure Column
  expression (whole-stage codegen: ``transform`` + ``aggregate``
  over the char array; invalid characters null the row, the
  relational form of the reference's UINT64_MAX sentinel).
* :func:`load_kmer_strings` — text file of one k-mer per line →
  (kmer, key) DataFrame, packing JVM-side.
* :func:`load_packed_kmer_binary` — the reference's exact binary
  layout, read distributed via ``binaryFile`` + Arrow unpack (one
  task per file; numpy ``frombuffer`` does the decode).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: nucleotide → 2-bit code (kmc_to_binary.cpp:17-33)
_CODES = {"A": 0, "C": 1, "G": 2, "T": 3}


def nucleotide_code(c: Column) -> Column:
    """2-bit code of one (upper-cased) nucleotide char; NULL for
    anything outside ACGT (the reference's 0xFF invalid marker)."""
    expr = F.lit(None).cast("long")
    for ch, v in reversed(_CODES.items()):
        expr = F.when(c == ch, F.lit(v)).otherwise(expr)
    return expr


def packed_kmer_expr(col: Column, k: int | None = None) -> Column:
    """uint64 2-bit encoding of a k-mer string, computed entirely in
    codegen (``encoded = (encoded << 2) | code`` per char,
    kmc_to_binary.cpp:35-45). NULL when any char is invalid or when
    ``k`` is given and the length differs. Supports k <= 31 (62
    bits) so the packed value stays positive in int64."""
    if k is not None and k > 31:
        raise ValueError("packed k-mers support k <= 31")
    chars = F.filter(F.split(F.upper(col), ""), lambda c: c != "")
    codes = F.transform(chars, nucleotide_code)
    packed = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, c: F.shiftleft(acc, 2).bitwiseOR(c),
    )
    if k is not None:
        packed = F.when(F.length(col) == k, packed)
    else:
        # without a fixed k, enforce the 62-bit limit per row: a
        # >31-char k-mer would shift its leading nucleotides out of
        # the int64 and silently collide with a shorter k-mer's key
        packed = F.when(F.length(col) <= 31, packed)
    return packed


def load_kmer_strings(
    spark: SparkSession, path: str, k: int | None = None
) -> DataFrame:
    """Text file (one k-mer per line) → (kmer, key) with invalid
    rows dropped — the string-side ``kmc_to_binary`` pipeline."""
    raw = spark.read.text(path).withColumnRenamed("value", "kmer")
    return raw.withColumn("key", packed_kmer_expr(F.col("kmer"), k)).filter(
        F.col("key").isNotNull()
    )


def load_packed_kmer_binary(spark: SparkSession, path: str) -> DataFrame:
    """Read the reference benchmark's binary k-mer format (uint64
    count, then N little-endian packed uint64s — ``loadKmerFile``)
    into a (key long) DataFrame. Distributed one task per file;
    decoding is a zero-copy numpy view. A 0-byte file yields no rows;
    a truncated or ragged file, or one whose count differs from its
    payload, raises ``ValueError`` naming the file."""
    import numpy as np
    import pyarrow as pa

    files = spark.read.format("binaryFile").load(path)

    def unpack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            tbl = rb.to_pydict()
            for name, blob in zip(tbl["path"], tbl["content"]):
                if not blob:
                    continue
                if len(blob) < 8 or len(blob) % 8:
                    raise ValueError(
                        f"{name}: {len(blob)} bytes is not a uint64 count "
                        "followed by whole uint64 k-mers"
                    )
                buf = np.frombuffer(blob, dtype="<u8")
                n = int(buf[0])
                if n != len(buf) - 1:
                    raise ValueError(
                        f"{name}: header counts {n} k-mers but the "
                        f"payload holds {len(buf) - 1}"
                    )
                keys = buf[1:].view(np.int64)
                yield pa.RecordBatch.from_arrays([pa.array(keys)], ["key"])

    return files.select("path", "content").mapInArrow(unpack, "key long")
