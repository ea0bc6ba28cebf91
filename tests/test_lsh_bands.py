"""Band keys are built once: the combined banding pass emits exactly the
keys of minhash_bands ∪ simhash_bands, and those keys are pinned — the
streaming band index on disk is partitioned and probed by them."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from iscc_specs_spark.operators import lsh

# sha256 over the sorted (url, band_id, band_hash, band_pfx) rows below
BAND_KEYS_SHA256 = "629c7e95e05c25a0db38b7e5b43447fcc84d33acac7ff636e86d2eaf4820ec25"


def _digest(df) -> tuple[int, str]:
    rows = sorted(tuple(r) for r in df.withColumn("p", lsh.band_pfx()).collect())
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def test_band_keys_are_shared_and_pinned(spark):
    rows = [
        (
            f"u{k}",
            [(i * 2654435761 + k * 40503) % (1 << 32) for i in range(64)],
            (0x0123456789ABCDEF * (k + 1)) % (1 << 63) - (k << 62),
            k,
            k,
        )
        for k in range(3)
    ]
    codes = spark.createDataFrame(
        rows,
        "url string, minhash array<bigint>, simhash bigint, "
        "cid_body bigint, tophash bigint",
    )
    separate = lsh.minhash_bands(codes).union(lsh.simhash_bands(codes))
    combined = lsh.band_rows_table(codes).select(
        F.col("m.url").alias("url"), "band_id", "band_hash"
    )
    assert separate.schema == combined.schema
    want = (3 * (lsh.DEFAULT_BANDS + 4), BAND_KEYS_SHA256)
    assert _digest(separate) == want
    assert _digest(combined) == want
