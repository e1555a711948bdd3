"""The one Bloom bit layout (``operators.bloom``): its probe contract, and
a fingerprint of the persisted rows so the on-disk format cannot drift."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_patternsearch_spark.operators import bloom


def test_bloom_has_no_false_negatives_and_ors_over_rows():
    rng = np.random.default_rng(7)
    h1 = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    h2 = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    m = bloom.size_for(1000)
    assert m == 1 << 14
    rows = []
    for part in np.array_split(np.arange(1000), 3):
        arr = np.zeros(m // 8, dtype=np.uint8)
        bloom.set_bits(arr, h1[part], h2[part])
        rows.append((m, arr.tobytes()))
    # every key in any one row is found; none is found with no rows
    assert bloom.might_contain(h1[:1000], h2[:1000], rows).all()
    for i, part in enumerate(np.array_split(np.arange(1000), 3)):
        assert bloom.might_contain(h1[part], h2[part], rows[i:i + 1]).all()
    assert not bloom.might_contain(h1, h2, []).any()
    # keys never added are mostly absent (16 bits/key, k=8: fpp ~5e-4
    # per row, so well under 1% across three rows)
    assert bloom.might_contain(h1[1000:], h2[1000:], rows).mean() < 0.01


@pytest.mark.parametrize("n, width, n_rows, sha1", [
    (1000, 1, 16, "a8d3c9da4692fd3a5855766313663056af915d34"),
    (5000, 2, 256, "7f513be43209d7a9f0e72f7f25344164741ad067"),
    (37, 1, 13, "1884651e5bdaae92e3248225bb210e9749066487"),
])
def test_bloom_rows_on_disk_format_is_stable(spark, n, width, n_rows, sha1):
    """Persisted bloom dirs are probed by later versions of the code, so
    the rows ``_bloom_rows`` writes must stay byte-identical."""
    from dask_patternsearch_spark.operators import dedup

    keys = spark.range(n).select(
        F.md5(F.col("id").cast("string")).alias("k"))
    rows = sorted(
        (r["pfx"], str(r["m"]), bytes(r["bits"]))
        for r in dedup._bloom_rows(keys, width, col="k").collect())
    assert len(rows) == n_rows
    h = hashlib.sha1()
    for pfx, m, bits in rows:
        h.update(pfx.encode())
        h.update(m.encode())
        h.update(bits)
    assert h.hexdigest() == sha1
