"""k-mer packed-key source parity (kmc_to_binary.cpp:17-46,
loadKmerFile binary layout)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.sources.kmers import (
    load_kmer_strings, load_packed_kmer_binary, packed_kmer_expr,
)


def _pack_py(s):
    m = {"A": 0, "C": 1, "G": 2, "T": 3}
    v = 0
    for c in s.upper():
        if c not in m:
            return None
        v = (v << 2) | m[c]
    return v


def test_packed_kmer_known_values(spark):
    rows = ["ACGT", "acgt", "TTTT", "A", "ACGN", "GATTACA"]
    df = spark.createDataFrame([(r,) for r in rows], "kmer string")
    got = [
        r.key for r in
        df.select(packed_kmer_expr(F.col("kmer")).alias("key")).collect()
    ]
    assert got == [_pack_py(r) for r in rows]
    assert got[0] == 0b00011011  # ACGT == 27, reference encoding
    assert got[4] is None  # invalid nucleotide -> NULL sentinel


def test_packed_kmer_length_gate(spark):
    df = spark.createDataFrame([("ACGT",), ("ACG",)], "kmer string")
    got = [
        r.key for r in
        df.select(packed_kmer_expr(F.col("kmer"), k=4).alias("key")).collect()
    ]
    assert got[0] == 27 and got[1] is None
    with pytest.raises(ValueError):
        packed_kmer_expr(F.col("kmer"), k=32)


def test_load_kmer_strings(spark, tmp_path):
    p = tmp_path / "kmers.txt"
    p.write_text("ACGTACGTACGTACGTACGTA\nNNNNN\nGATTACAGATTACAGATTACA\n")
    df = load_kmer_strings(spark, str(p), k=21)
    rows = {r.kmer: r.key for r in df.collect()}
    assert set(rows) == {"ACGTACGTACGTACGTACGTA", "GATTACAGATTACAGATTACA"}
    for s, v in rows.items():
        assert v == _pack_py(s)


def test_load_packed_kmer_binary_roundtrip(spark, tmp_path):
    keys = np.random.default_rng(5).integers(
        0, 1 << 42, 10_000, dtype=np.uint64
    )
    p = tmp_path / "kmers.bin"
    with open(p, "wb") as f:
        f.write(np.uint64(len(keys)).tobytes())
        f.write(keys.tobytes())
    df = load_packed_kmer_binary(spark, str(p))
    got = np.sort(np.array([r.key for r in df.collect()], dtype=np.int64))
    assert np.array_equal(got, np.sort(keys.view(np.int64)))


def _kmer_file(path, defect):
    keys = np.arange(1, 6, dtype=np.uint64)
    body = {
        "empty": b"",
        "short": b"\x05" * 5,
        "count_mismatch": np.uint64(10).tobytes() + keys.tobytes(),
        "ragged": np.uint64(5).tobytes() + keys.tobytes() + b"\x01\x02\x03",
    }[defect]
    path.write_bytes(body)


@pytest.mark.parametrize("defect", ["short", "count_mismatch", "ragged"])
def test_load_packed_kmer_binary_rejects_truncation(spark, tmp_path, defect):
    """A file that is not a count plus exactly that many uint64 k-mers
    fails naming the file instead of yielding fewer keys."""
    p = tmp_path / f"bad_{defect}.bin"
    _kmer_file(p, defect)
    with pytest.raises(Exception, match=f"bad_{defect}.bin"):
        load_packed_kmer_binary(spark, str(p)).collect()


def test_load_packed_kmer_binary_empty_file(spark, tmp_path):
    p = tmp_path / "empty.bin"
    _kmer_file(p, "empty")
    assert load_packed_kmer_binary(spark, str(p)).count() == 0


def test_packed_kmer_no_k_rejects_over_31(spark):
    """Without a fixed k, rows longer than 31 chars must null out
    (regression: they silently overflowed the int64 and collided
    with shorter k-mers' keys)."""
    df = spark.createDataFrame(
        [("ACGT",), ("A" * 32,), ("A" * 31,)], "kmer string"
    ).withColumn("key", packed_kmer_expr(F.col("kmer")))
    rows = {r.kmer: r.key for r in df.collect()}
    assert rows["ACGT"] == 0b00011011
    assert rows["A" * 32] is None
    assert rows["A" * 31] == 0
