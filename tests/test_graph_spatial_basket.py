"""Behavior tests for the round-5 late additions: triangle counting,
grid-blocked spatial join, association rules, daily z-score anomalies, and
the Pareto-frontier window rewrite — closed-form expectations on tiny
hand-built inputs (the DuckDB oracle gate covers the testdata-scale path in
test_oracle_parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adventureworkslakehousepoc_spark.operators.basket import association_rules
from adventureworkslakehousepoc_spark.operators.graph import triangle_counts
from adventureworkslakehousepoc_spark.operators.spatial import grid_neighbor_pairs
from adventureworkslakehousepoc_spark.operators.temporal import daily_anomaly_flags


def test_triangle_counts_closed_form(spark):
    # 4-clique {1,2,3,4} (4 triangles, every node in 3) plus a pendant path
    # 4-5-6 (no triangles; node 5 has degree 2 but open wedge)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "doc_a bigint, doc_b bigint",
    )
    got = {r["node"]: r.asDict() for r in triangle_counts(edges).collect()}
    assert got[1]["n_triangles"] == 3 and got[1]["degree"] == 3
    assert got[2]["n_triangles"] == 3 and got[3]["n_triangles"] == 3
    assert got[4]["n_triangles"] == 3 and got[4]["degree"] == 4
    assert got[5]["n_triangles"] == 0 and got[5]["degree"] == 2
    assert got[6]["n_triangles"] == 0 and got[6]["degree"] == 1
    # clustering coefficient: node 1 → 2·3/(3·2) = 1.0; node 4 → 2·3/(4·3)=0.5
    assert got[1]["clustering_coeff_micros"] == 1_000_000
    assert got[4]["clustering_coeff_micros"] == 500_000
    assert got[5]["clustering_coeff_micros"] == 0
    # duplicate / reversed / self edges don't change anything
    noisy = edges.unionByName(
        spark.createDataFrame([(2, 1), (3, 3), (1, 2)], "doc_a bigint, doc_b bigint")
    )
    got2 = {r["node"]: r["n_triangles"] for r in triangle_counts(noisy).collect()}
    assert got2 == {k: v["n_triangles"] for k, v in got.items()}


def test_grid_neighbor_pairs_matches_naive_and_boundary(spark):
    # deterministic pseudo-random points, plus an exact-boundary pair:
    # (0,0)-(0,100) at dist² == radius² must be INCLUDED (≤, not <)
    pts = [(i, (i * 7919) % 400, (i * 104729) % 400) for i in range(60)]
    pts += [(1000, 0, 0), (1001, 0, 100)]
    df = spark.createDataFrame(pts, "point_id bigint, x bigint, y bigint")
    got = {
        (r["id_a"], r["id_b"]): r["dist2"]
        for r in grid_neighbor_pairs(df, radius=100).collect()
    }
    naive = {}
    for ia, xa, ya in pts:
        for ib, xb, yb in pts:
            if ia < ib:
                d2 = (xa - xb) ** 2 + (ya - yb) ** 2
                if d2 <= 100 * 100:
                    naive[(ia, ib)] = d2
    assert got == naive
    assert got[(1000, 1001)] == 10000


def test_association_rules_closed_form(spark):
    # items: a in baskets {1,2,3}, b in {1,2}, c in {3,4}; pair (a,b) in 2,
    # (a,c) in 1; N=4 baskets
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
            (4, "c"), (4, "d"), (1, "a")]  # duplicate line collapses
    df = spark.createDataFrame(rows, "basket_id bigint, item string")
    got = {(r["item_a"], r["item_b"]): r.asDict()
           for r in association_rules(df).collect()}
    ab = got[("a", "b")]
    assert (ab["n_ab"], ab["n_a"], ab["n_b"], ab["n_baskets"]) == (2, 3, 2, 4)
    assert ab["support_micros"] == 500_000            # 2/4
    assert ab["confidence_a_to_b_micros"] == 666_666  # 2/3 floored
    assert ab["lift_micros"] == 1_333_333             # (2·4)/(3·2)
    ac = got[("a", "c")]
    assert ac["n_ab"] == 1 and ac["lift_micros"] == 666_666  # (1·4)/(3·2)
    # (c,d): n_cd=1, n_c=2, n_d=1 → lift (1·4)/(2·1) = 2.0
    assert ("c", "d") in got and got[("c", "d")]["lift_micros"] == 2_000_000
    # min_pair_count filter drops singleton pairs
    filtered = association_rules(df, min_pair_count=2)
    assert [tuple(r) for r in filtered.select("item_a", "item_b").collect()] == [("a", "b")]


def test_daily_anomaly_flags_spike_detected(spark):
    # flat 10.0/day series for 10 days, then a 100.0 spike on day 11:
    # trailing window is exactly flat → variance 0 → any deviation flags
    rows = [(i, f"2024-01-{d:02d} 12:00:00", 1, "m", 10.0)
            for i, d in enumerate(range(1, 11))]
    rows.append((99, "2024-01-11 12:00:00", 1, "m", 100.0))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {str(r["day"]): r.asDict() for r in daily_anomaly_flags(df).collect()}
    assert out["2024-01-11"]["is_anomaly"] is True
    assert all(not out[d]["is_anomaly"] for d in out if d != "2024-01-11")
    # early days (< min_history of trailing data) never flag
    assert out["2024-01-02"]["n_hist"] == 1 and out["2024-01-02"]["is_anomaly"] is False


def test_pareto_frontier_keeps_equal_vectors(spark):
    """Equal (price, size) duplicates are mutually non-dominating → both
    kept; a same-price smaller part and a pricier not-bigger part are
    dominated — pins the window rewrite's tie semantics against the
    NOT-EXISTS definition."""
    from adventureworkslakehousepoc_spark.queries.analytics import QUERIES as AQ
    import duckdb
    import os
    import tempfile

    parts = [
        (1, "p1", 10.0, 5), (2, "p2", 10.0, 5),   # equal vectors — both frontier
        (3, "p3", 10.0, 4),                        # same price, smaller → dominated
        (4, "p4", 12.0, 7),                        # pricier but bigger → frontier
        (5, "p5", 12.0, 5),                        # pricier, not bigger → dominated
        (6, "p6", 9.0, 1),                         # cheapest → frontier
    ]
    with tempfile.TemporaryDirectory() as d:
        pdf = spark.createDataFrame(
            parts, "p_partkey bigint, p_name string, p_retailprice double, p_size int"
        )
        pdf.toPandas().to_parquet(os.path.join(d, "part.parquet"))
        got = sorted(
            r["p_partkey"]
            for r in AQ["pareto_frontier_parts"](spark, d).collect()
        )
        assert got == [1, 2, 4, 6]
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW part AS SELECT * FROM read_parquet('{d}/part.parquet')"
        )
        from adventureworkslakehousepoc_spark.queries.analytics import ORACLE as AO

        oracle = sorted(x[0] for x in con.execute(AO["pareto_frontier_parts"]).fetchall())
        assert [int(x) for x in oracle] == got


# --- property-based invariants for the round-5 late operators -------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PSET = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)


@settings(**_PSET)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 500)),
        min_size=0,
        max_size=40,
    ),
    radius=st.integers(1, 200),
)
def test_grid_join_equals_naive_property(spark, pts, radius):
    """For ANY point set and radius, the grid join equals the naive O(n²)
    pair set — the zero-false-negative guarantee as a law, not an example."""
    from adventureworkslakehousepoc_spark.operators.spatial import grid_neighbor_pairs

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    naive = {
        (a[0], b[0]): (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2
        for a in rows
        for b in rows
        if a[0] < b[0] and (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= radius * radius
    }
    if not rows:
        return
    df = spark.createDataFrame(rows, "point_id bigint, x bigint, y bigint")
    got = {
        (r["id_a"], r["id_b"]): r["dist2"]
        for r in grid_neighbor_pairs(df, radius=radius).collect()
    }
    assert got == naive


@settings(**_PSET)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),          # key
            st.integers(0, 50),         # time (seconds)
            st.booleans(),              # side: True = left
        ),
        min_size=1,
        max_size=24,
    ),
    tol=st.integers(0, 30),
)
def test_asof_forward_equals_naive_property(spark, events, tol):
    """Forward-with-tolerance as-of equals the naive per-left-row scan:
    earliest right with r.t >= l.t, ties to smallest rid, nulled beyond
    tolerance."""
    from adventureworkslakehousepoc_spark.operators.asof import asof_join_forward

    lefts = [(k, i, t) for i, (k, t, is_l) in enumerate(events) if is_l]
    rights = [(k, i, t) for i, (k, t, is_l) in enumerate(events) if not is_l]
    if not lefts or not rights:
        return
    ldf = spark.createDataFrame(lefts, "k bigint, lid bigint, lt bigint").withColumn(
        "lt", F.timestamp_seconds("lt")
    )
    rdf = spark.createDataFrame(rights, "k bigint, rid bigint, rt bigint").withColumn(
        "rt", F.timestamp_seconds("rt")
    )
    got = {
        r["lid"]: r["rid"]
        for r in asof_join_forward(
            ldf, rdf, on="k", left_time="lt", right_time="rt",
            left_cols=["lid"], right_cols=["rid"], tolerance_seconds=tol,
        ).collect()
    }
    for k, lid, lt in lefts:
        cands = sorted(
            [(rt, rid) for (rk, rid, rt) in rights if rk == k and rt >= lt]
        )
        expect = None
        if cands and cands[0][0] - lt <= tol:
            expect = cands[0][1]
        assert got[lid] == expect, (lid, got[lid], expect)


@settings(**_PSET)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from("abcde")),
        min_size=1,
        max_size=40,
    )
)
def test_association_rules_conservation_property(spark, rows):
    """Laws that hold for ANY basket relation: symmetric counts
    (n_ab ≤ min(n_a, n_b)), support ≤ confidence, and every pair count
    consistent with a pure-Python recount."""
    from collections import defaultdict

    from adventureworkslakehousepoc_spark.operators.basket import association_rules

    df = spark.createDataFrame(rows, "basket_id bigint, item string")
    got = {
        (r["item_a"], r["item_b"]): r.asDict()
        for r in association_rules(df).collect()
    }
    baskets = defaultdict(set)
    for b, i in rows:
        baskets[b].add(i)
    item_n = defaultdict(int)
    pair_n = defaultdict(int)
    for b, items in baskets.items():
        for i in items:
            item_n[i] += 1
        s = sorted(items)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                pair_n[(s[x], s[y])] += 1
    assert set(got) == set(pair_n)
    for (a, b), r in got.items():
        assert r["n_ab"] == pair_n[(a, b)]
        assert r["n_a"] == item_n[a] and r["n_b"] == item_n[b]
        assert r["n_ab"] <= min(r["n_a"], r["n_b"])
        assert r["support_micros"] <= r["confidence_a_to_b_micros"]


@settings(**_PSET)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 60), st.integers(-1000, 1000)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    corrupt=st.sets(st.integers(0, 60), max_size=5),
)
def test_reconcile_flags_exactly_the_corrupted_buckets(spark, rows, corrupt):
    """For ANY table and ANY corruption set, reconciliation flags exactly
    the buckets containing a corrupted/lost key and no others."""
    from adventureworkslakehousepoc_spark.operators.quality import reconcile_tables

    import hashlib

    src = spark.createDataFrame(rows, "k bigint, payload bigint")
    sink_rows = [(k, p + 1 if k in corrupt else p) for k, p in rows]
    sink = spark.createDataFrame(sink_rows, "k bigint, payload bigint")
    got = {r["bucket"]: r["is_match"]
           for r in reconcile_tables(src, sink, "k", ["payload"], n_buckets=8).collect()}

    def bucket_of(k: int) -> int:  # md5-of-key-string buckets (quality.py)
        return int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % 8

    touched = {bucket_of(k) for k, _ in rows if k in corrupt}
    for b, ok in got.items():
        assert ok == (b not in touched), (b, touched)


def test_reconcile_string_keys_no_phantom_mismatch(spark):
    """Non-numeric keys must reconcile cleanly: the old bigint-cast
    bucketing sent every string key to a NULL bucket, and NULL buckets
    never match across the full-outer join — a permanent spurious
    mismatch on any string-keyed table."""
    from adventureworkslakehousepoc_spark.operators.quality import reconcile_tables

    rows = [(f"key-{i}", i * 10) for i in range(40)]
    src = spark.createDataFrame(rows, "k string, payload bigint")
    sink = spark.createDataFrame(rows, "k string, payload bigint")
    out = reconcile_tables(src, sink, "k", ["payload"], n_buckets=8).collect()
    assert out and all(r["is_match"] for r in out)
    assert all(r["bucket"] is not None for r in out)
    assert sum(r["n_source"] for r in out) == len(rows)


@settings(**_PSET)
@given(
    counts=st.lists(
        st.tuples(st.sampled_from("abcdefgh"), st.integers(1, 30)),
        min_size=1,
        max_size=16,
        unique_by=lambda t: t[0],
    )
)
def test_nucleus_is_smallest_qualifying_prefix(spark, counts):
    """The kept set per context is exactly the smallest (count desc, word)
    rank-prefix whose cumulative mass reaches 90% — replayed in pure
    Python."""
    from adventureworkslakehousepoc_spark.operators.text_analysis import (
        nucleus_continuations,
    )

    # one shared two-word context: each doc is 'x y <word>'
    docs = []
    i = 0
    for w, n in counts:
        for _ in range(n):
            docs.append((i, f"x y {w}"))
            i += 1
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = sorted(
        (r["next_word"], r["n"], r["rank"])
        for r in nucleus_continuations(df, min_total=1).collect()
        if r["prefix"] == "x y"
    )
    ordered = sorted(counts, key=lambda t: (-t[1], t[0]))
    total = sum(n for _, n in ordered)
    kept, cum = [], 0
    for rank, (w, n) in enumerate(ordered, start=1):
        if 10 * cum < 9 * total:
            kept.append((w, n, rank))
        cum += n
    assert got == sorted(kept)


@settings(**_PSET)
@given(
    docs=st.lists(
        st.lists(st.integers(0, 12), min_size=3, max_size=12),
        min_size=2,
        max_size=10,
    ),
)
def test_containment_exact_equals_naive(spark, docs):
    """Zero-false-negative property: for ANY small corpus, the prefix-filtered
    containment join must return exactly the pairs the naive all-pairs
    shingle join returns (same counts, both directions)."""
    from adventureworkslakehousepoc_spark.operators.dedup import (
        containment_prefix_pairs,
        word_shingles,
    )

    rows = [(i, " ".join(f"w{t}" for t in ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_a"], r["n_b"])
        for r in containment_prefix_pairs(df).collect()
    }
    # naive reference in plain python over the same 3-shingles
    sh = {}
    for r in word_shingles(df).collect():
        sh.setdefault(r["doc_id"], set()).add(r["sh"])
    expect = {}
    ids = sorted(sh)
    for i_idx, a in enumerate(ids):
        for b in ids[i_idx + 1:]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            ca = inter * 1_000_000 // len(sh[a])
            cb = inter * 1_000_000 // len(sh[b])
            if ca * 10 >= 7_000_000 or cb * 10 >= 7_000_000:
                expect[(a, b)] = (inter, len(sh[a]), len(sh[b]))
    assert got == expect


@settings(**_PSET)
@given(
    docs=st.lists(
        st.lists(st.integers(0, 6), min_size=3, max_size=10),
        min_size=1,
        max_size=8,
    ),
    copies=st.lists(st.integers(0, 7), min_size=1, max_size=4),
)
def test_prefix_filter_jaccard_equals_naive_with_copies(spark, docs, copies):
    """Exact-join property through the family collapse: on ANY small corpus
    with planted exact copies (drawn docs repeated under new ids), the
    prefix-filtered Jaccard join returns exactly the naive all-pairs
    3-shingle Jaccard ≥ 0.5 — including the intra-family pairs, which only
    the family expansion produces."""
    from adventureworkslakehousepoc_spark.operators.dedup import prefix_filter_jaccard_pairs

    texts = [" ".join(f"w{t}" for t in ws) for ws in docs]
    texts += [texts[c % len(texts)] for c in copies]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(df).collect()
    }
    sh = {}
    for i, t in rows:
        ws = t.split(" ")
        sh[i] = {" ".join(ws[k:k + 3]) for k in range(len(ws) - 2)}
    expect = {}
    for a in sh:
        for b in sh:
            if a < b:
                inter = len(sh[a] & sh[b])
                j = inter / (len(sh[a]) + len(sh[b]) - inter)
                if j >= 0.5:
                    expect[(a, b)] = j
    assert got == expect
