"""Property tests of the dedup family index (``dedup._set_index``): on
corpora with planted families of identical shingle sets, the joins that
verify on representatives and expand verdicts from the carried ``members``
arrays must return exactly what a pure-Python join over every doc returns:
the all-pairs join for the prefix-filtered containment, and MinHash LSH
banding for near-duplicates, LSH containment and the calibration report.
Families of three or more copies exercise the intra-family pairs (each
member paired with the slice after it) and cross-family pairs whose member
ids interleave, so ``n_a``/``n_b`` must swap with the ids."""

from __future__ import annotations

import ast
import hashlib
from itertools import combinations
from pathlib import Path

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import adventureworkslakehousepoc_spark as pkg
from adventureworkslakehousepoc_spark.operators.dedup import (
    containment_prefix_pairs,
    lsh_containment_pairs,
    minhash_estimate_calibration,
    minhash_near_duplicates,
    prefix_filter_jaccard_pairs,
)
from adventureworkslakehousepoc_spark.plans.audit import StatusWindow, extended_plans

# a 4-word vocabulary keeps shingle sets small and overlapping
text = st.lists(st.sampled_from("abcd"), min_size=1, max_size=8).map(" ".join)
families = st.lists(st.tuples(text, st.integers(1, 4)), min_size=1, max_size=6)

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
# one family of four copies, one of three, a near copy, a one-off and two
# docs under 3 words (no shingles, so in no pair)
_PLANTED = [
    ("a b c d a b", 4), ("a b c d a c", 3), ("a b c d a", 1), ("d c b a", 2), ("c a", 2),
]


def _corpus(fams, stride):
    """(doc_id, text) rows, copies of one text spread over the id range
    (ids step by ``stride`` modulo a prime), so families interleave."""
    texts = [t for t, copies in fams for _ in range(copies)]
    return [((k * stride) % 101 + 1, t) for k, t in enumerate(texts)]


def _shingle_sets(rows):
    """Each doc's distinct word 3-shingles; docs under 3 words have none."""
    sets = {}
    for doc_id, t in rows:
        w = t.split(" ")
        ss = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        if ss:
            sets[doc_id] = ss
    return sets


def _signature(ss):
    """16 md5 lanes: lane s is the min over shingles of the 8-hex-char
    slice s % 4 of md5('<s // 4>:' || shingle)."""
    return [
        min(hashlib.md5(f"{s // 4}:{sh}".encode()).hexdigest()[8 * (s % 4) : 8 * (s % 4) + 8]
            for sh in ss)
        for s in range(16)
    ]


def _lsh_pairs(sets):
    """Every doc pair (a < b) whose ``_signature`` collides on one of 8
    bands of 2 lanes, over all docs: no family collapse."""
    sigs = {i: _signature(ss) for i, ss in sets.items()}
    for a, b in combinations(sorted(sets), 2):
        if any(sigs[a][2 * j : 2 * j + 2] == sigs[b][2 * j : 2 * j + 2] for j in range(8)):
            yield a, b, sigs[a], sigs[b]


@given(fams=families, stride=st.sampled_from([1, 7, 37]))
@example(fams=_PLANTED, stride=37)
@settings(**_SETTINGS)
def test_minhash_near_duplicates_equal_pure_lsh(spark, fams, stride):
    rows = _corpus(fams, stride)
    sets = _shingle_sets(rows)
    want = set()
    for a, b, _, _ in _lsh_pairs(sets):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.5:
            want.add((a, b, j))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert {tuple(r) for r in minhash_near_duplicates(docs).collect()} == want


@given(fams=families, stride=st.sampled_from([1, 7, 37]))
@example(fams=_PLANTED, stride=37)
@settings(**_SETTINGS)
def test_lsh_containment_equals_pure_lsh(spark, fams, stride):
    rows = _corpus(fams, stride)
    sets = _shingle_sets(rows)
    want = set()
    for a, b, _, _ in _lsh_pairs(sets):
        inter, n_a, n_b = len(sets[a] & sets[b]), len(sets[a]), len(sets[b])
        c_a, c_b = inter * 10**6 // n_a, inter * 10**6 // n_b
        if c_a >= 700000 or c_b >= 700000:
            want.add((a, b, inter, n_a, n_b, c_a, c_b))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert {tuple(r) for r in lsh_containment_pairs(docs).collect()} == want


@given(fams=families, stride=st.sampled_from([1, 7, 37]))
@example(fams=_PLANTED, stride=37)
@settings(**_SETTINGS)
def test_containment_equals_all_pairs_join(spark, fams, stride):
    rows = _corpus(fams, stride)
    sets = _shingle_sets(rows)
    want = set()
    for a, b in combinations(sorted(sets), 2):
        inter, n_a, n_b = len(sets[a] & sets[b]), len(sets[a]), len(sets[b])
        if inter * 10 >= 7 * n_a or inter * 10 >= 7 * n_b:
            want.add((a, b, inter, n_a, n_b, inter * 10**6 // n_a, inter * 10**6 // n_b))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert {tuple(r) for r in containment_prefix_pairs(docs).collect()} == want


@given(fams=families, stride=st.sampled_from([1, 7, 37]))
@example(fams=_PLANTED, stride=37)
@settings(**_SETTINGS)
def test_calibration_equals_all_pairs_join(spark, fams, stride):
    rows = _corpus(fams, stride)
    sets = _shingle_sets(rows)
    want = set()
    for a, b, sig_a, sig_b in _lsh_pairs(sets):
        n_match = sum(x == y for x, y in zip(sig_a, sig_b))
        est = n_match * 10**6 // 16
        exact = len(sets[a] & sets[b]) * 10**6 // len(sets[a] | sets[b])
        want.add((a, b, n_match, est, exact, est - exact))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert {tuple(r) for r in minhash_estimate_calibration(docs).collect()} == want


def test_pair_intersection_is_computed_once(spark):
    """A threshold on ``n_inter`` pushed into the join condition would run
    the set intersection there and again in the projection; the verify
    plans of the containment and prefix joins each hold one."""
    quote = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, quote), (2, quote + " x y z"), (4, quote)], "doc_id bigint, text string"
    )
    counts = {}
    with extended_plans(spark):
        for join in (containment_prefix_pairs, prefix_filter_jaccard_pairs):
            window = StatusWindow(spark)
            join(docs)
            # the join's last execution is the eager checkpoint of its
            # verified pairs
            plan = window.executions()[-1].physical
            counts[join.__name__] = plan.count("array_intersect(")
    assert counts["containment_prefix_pairs"] == 1
    assert counts["prefix_filter_jaccard_pairs"] == 1


def test_minhash_verify_intersects_once(spark, sf_dir):
    """MinHash verification binds each candidate pair's counts once: the
    optimized plan of ``dedup_minhash_lsh`` holds one set intersection, not
    one in the pushed join condition's numerator, one in its denominator
    and one in the projection."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["dedup_minhash_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the result is a cached frame: once it has run, its adaptive plan
    # prints the final plan and then the initial one
    assert plan.split("== Initial Plan ==")[0].count("array_intersect(") == 1


def test_dedup_internals_stay_in_dedup():
    """Queries and other modules reach the set-similarity core through
    dedup's public operators: a module importing its underscore helpers
    builds a second copy of a path that dedup owns (its caches, slots and
    verify)."""
    root = Path(pkg.__file__).parent
    dedup = root / "operators" / "dedup.py"
    hits = [
        (str(p.relative_to(root)), alias.name)
        for p in sorted(root.rglob("*.py"))
        if p != dedup
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[-1] == "dedup"
        for alias in node.names
        if alias.name.startswith("_")
    ]
    assert hits == []
