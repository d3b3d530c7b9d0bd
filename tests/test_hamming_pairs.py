"""Property test of the banded Hamming self-join (``dedup.hamming_pairs``):
over signed 64-bit fingerprints with planted 0–4-bit near-copies, the
banded join must return exactly the rows a pure-Python all-pairs Hamming
join returns — pigeonhole recall at ``max_hamming <= bands - 1`` plus an
exact verify. Signed inputs matter: banding by ``div``/``%`` instead of
``shiftright & mask`` rounds negative fingerprints toward zero, so a copy
whose sign bit flipped lands in a different bucket in every band."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from adventureworkslakehousepoc_spark.operators.dedup import hamming_pairs

BANDS, BAND_BITS, MAX_HAMMING = 4, 16, 3
_U64 = (1 << 64) - 1

i64 = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)
key = st.integers(min_value=0, max_value=1)
# a near-copy: 0–4 distinct flipped bit positions of its base, own key
copy = st.tuples(st.lists(st.integers(0, 63), max_size=4, unique=True), key)
corpus = st.lists(
    st.tuples(i64, key, st.lists(copy, max_size=3)), min_size=1, max_size=12
)

# a positive base whose copies flip the sign bit (plus 0–2 low bits)
_SIGN_FLIPS = [(0x0123456789ABCDEF, 0, [([63], 0), ([63, 5], 0), ([63, 0, 17], 0)])]


def _signed(u: int) -> int:
    return u - (1 << 64) if u >> 63 else u


def _docs(corpus_):
    """Flatten bases and their planted copies into (doc_id, fp, k) rows."""
    rows = []
    for fp, k, copies in corpus_:
        rows.append((len(rows), fp, k))
        for bits, ck in copies:
            rows.append((len(rows), _signed((fp & _U64) ^ sum(1 << b for b in bits)), ck))
    return rows


def _all_pairs(rows, keyed: bool):
    out = []
    for i, fa, ka in rows:
        for j, fb, kb in rows:
            ham = bin((fa ^ fb) & _U64).count("1")
            if i < j and ham <= MAX_HAMMING and (ka == kb or not keyed):
                out.append((i, j, ka, ham) if keyed else (i, j, ham))
    return sorted(out)


@pytest.mark.parametrize("keyed", [False, True])
@given(corpus_=corpus)
@example(corpus_=_SIGN_FLIPS)
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
def test_hamming_pairs_equals_all_pairs_join(spark, keyed, corpus_):
    rows = _docs(corpus_)
    fps = spark.createDataFrame(rows, "doc_id bigint, fp bigint, k int")
    keys = ("k",) if keyed else ()
    got = hamming_pairs(fps, BANDS, BAND_BITS, MAX_HAMMING, keys=keys)
    assert got.columns == ["doc_a", "doc_b", *keys, "hamming"]
    assert sorted(tuple(r) for r in got.collect()) == _all_pairs(rows, keyed)


def test_hamming_pairs_refuses_thresholds_past_pigeonhole():
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_pairs(None, bands=4, band_bits=16, max_hamming=4)
