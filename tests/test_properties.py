"""Property-based tests (SURVEY §5.3): the reference's key invariant —
row-at-a-time incremental aggregation (/root/reference/dataCollector.py:80-94)
is equivalent to one declarative batch aggregation over the same rows — plus
the algebraic laws that make Spark's partial/final (map-side combine) plan
legal. If any of these failed, the 100 TB distributed plan would silently
diverge from single-node semantics.

The incremental model below is an independent clean-room implementation of
"running OHLC state" (first/last-by-time, min, max, incremental mean), not a
copy of the reference: it exists so hypothesis can drive both engines with
the same random tick streams.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from crypto_data_ingestion_script_spark.operators.rollup import ohlc_bars

EPOCH = dt.datetime(2024, 1, 1)

ticks_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3 * 3600 - 1),  # seconds over 3 hours
        st.sampled_from(["AAA", "BBB", "CCC"]),
        # Money-grain prices (2dp), matching the engine's declared
        # fixed-point contract: ohlc_bars' avg_price accumulates in
        # DECIMAL(18,6) (functions/exact.py), which quantizes inputs
        # beyond 6 fractional digits by design — an arbitrary-double
        # price (e.g. the dyadic 0.3359375 hypothesis found in r12) is
        # outside the operator's domain, not a counterexample.
        st.integers(min_value=1, max_value=100_000_000).map(
            lambda c: c / 100.0
        ),
    ),
    min_size=1,
    max_size=60,
)


def incremental_ohlc(rows):
    """Row-at-a-time reference model: fold each tick into per-(hour, key)
    running state, exactly the update function a streaming accumulator runs."""
    state: dict = {}
    for ts, key, price in rows:
        k = (ts.replace(minute=0, second=0, microsecond=0), key)
        s = state.get(k)
        if s is None:
            state[k] = {
                "open": (ts, price),
                "close": (ts, price),
                "high": price,
                "low": price,
                "sum": price,
                "n": 1,
            }
            continue
        # ties on ts: keep the earliest/latest *encountered* consistent with
        # min_by/max_by by comparing strictly
        if ts < s["open"][0]:
            s["open"] = (ts, price)
        if ts > s["close"][0]:
            s["close"] = (ts, price)
        s["high"] = max(s["high"], price)
        s["low"] = min(s["low"], price)
        s["sum"] += price
        s["n"] += 1
    return {
        k: (v["open"][1], v["high"], v["low"], v["close"][1], v["sum"] / v["n"], v["n"])
        for k, v in state.items()
    }


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ticks=ticks_strategy)
def test_incremental_equals_batch_groupby(spark, ticks):
    """reference-style incremental fold == Spark groupBy.agg, any tick stream.

    Timestamps are de-duplicated per key first: with duplicate (key, ts)
    pairs, first/last-by-time is not well-defined in either engine.
    """
    seen = set()
    rows = []
    for sec, key, price in ticks:
        if (sec, key) in seen:
            continue
        seen.add((sec, key))
        rows.append((EPOCH + dt.timedelta(seconds=sec), key, float(price)))
    df = spark.createDataFrame(rows, "ts timestamp, symbol string, price double")
    got = {
        (r["hour_ts"], r["symbol"]): (
            r["open_price"],
            r["high_price"],
            r["low_price"],
            r["close_price"],
            r["avg_price"],
            r["sample_count"],
        )
        for r in ohlc_bars(df).collect()
    }
    want = incremental_ohlc(rows)
    assert set(got) == set(want)
    for k, (o, h, lo, c, a, n) in want.items():
        go, gh, gl, gc, ga, gn = got[k]
        assert (go, gh, gl, gc, gn) == (o, h, lo, c, n), k
        # averages may differ by float summation order across partitions
        assert math.isclose(ga, a, rel_tol=1e-9), k


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ticks=ticks_strategy)
def test_agg_algebraic_laws(spark, ticks):
    """min <= avg <= max, avg == sum/count, count == n — per group."""
    rows = [
        (EPOCH + dt.timedelta(seconds=sec), key, float(price))
        for sec, key, price in ticks
    ]
    df = spark.createDataFrame(rows, "ts timestamp, symbol string, price double")
    from pyspark.sql import functions as F

    out = df.groupBy("symbol").agg(
        F.min("price").alias("mn"),
        F.max("price").alias("mx"),
        F.avg("price").alias("av"),
        F.sum("price").alias("sm"),
        F.count("*").alias("n"),
    )
    for r in out.collect():
        assert r["mn"] <= r["av"] <= r["mx"]
        assert math.isclose(r["av"], r["sm"] / r["n"], rel_tol=1e-9)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ticks=ticks_strategy, split=st.integers(min_value=0, max_value=60))
def test_union_then_agg_equals_agg_then_merge(spark, ticks, split):
    """Partial/final legality: aggregating the union of two slices equals
    merging the two slices' partial (sum, count, min, max) states — the law
    map-side combine relies on at every shuffle boundary."""
    from pyspark.sql import functions as F

    rows = [
        (EPOCH + dt.timedelta(seconds=sec), key, float(price))
        for sec, key, price in ticks
    ]
    a, b = rows[: split % (len(rows) + 1)], rows[split % (len(rows) + 1) :]
    schema = "ts timestamp, symbol string, price double"
    dfa = spark.createDataFrame(a, schema) if a else None
    dfb = spark.createDataFrame(b, schema) if b else None
    whole = spark.createDataFrame(rows, schema)

    def partial(df):
        return df.groupBy("symbol").agg(
            F.sum("price").alias("sm"),
            F.count("*").alias("n"),
            F.min("price").alias("mn"),
            F.max("price").alias("mx"),
        )

    parts = [partial(d) for d in (dfa, dfb) if d is not None]
    merged_df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    merged = (
        merged_df.groupBy("symbol")
        .agg(
            F.sum("sm").alias("sm"),
            F.sum("n").alias("n"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .collect()
    )
    direct = {r["symbol"]: r for r in partial(whole).collect()}
    assert len(merged) == len(direct)
    for r in merged:
        d = direct[r["symbol"]]
        assert (r["n"], r["mn"], r["mx"]) == (d["n"], d["mn"], d["mx"])
        assert math.isclose(r["sm"], d["sm"], rel_tol=1e-9)


@given(
    st.lists(
        st.floats(min_value=0.01, max_value=500.0, allow_nan=False),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=30, deadline=None)
def test_ema_closed_form_equals_recurrence(series):
    """q_ema's algebraic unroll (EMA_n = a·Σ r^{n-i}·x_i + r^{n-1}·x_1)
    must equal the textbook recurrence EMA_n = a·x_n + (1-a)·EMA_{n-1}
    for any series — the derivation the single-SUM formulation rests on."""
    a = 0.03
    r = 1 - a
    ema = series[0]
    for x in series[1:]:
        ema = a * x + r * ema
    n = len(series)
    closed = r ** (n - 1) * series[0] + sum(
        a * r ** (n - 1 - i) * x for i, x in enumerate(series[1:], start=1)
    )
    assert math.isclose(ema, closed, rel_tol=1e-9, abs_tol=1e-9)


def test_cusum_closed_form_equals_recursion():
    """q_cusum rests on the identity S_t = P_t - min(0, min_{i<=t} P_i)
    for the recursion S_t = max(0, S_{t-1} + a_t), S_0 = 0. Check it
    directly on random series — the identity is what lets a stateful
    control chart run as a stateless window plan."""
    import random

    rng = random.Random(42)
    for _ in range(200):
        xs = [rng.uniform(-5, 5) for _ in range(rng.randint(1, 60))]
        s, recursion = 0.0, []
        for x in xs:
            s = max(0.0, s + x)
            recursion.append(s)
        p, run_min, closed = 0.0, 0.0, []
        for x in xs:
            p += x
            run_min = min(run_min, p)
            closed.append(p - min(run_min, 0.0))
        assert all(
            abs(a - b) < 1e-9 for a, b in zip(recursion, closed)
        ), (xs, recursion, closed)


def test_triangle_count_on_known_graphs(spark):
    """The degree-ordered triangle core must produce exact counts on
    graphs with known answers: K4 has 4 triangles, a path has 0, a star
    has 0 (the celebrity shape the orientation exists to tame), K4 plus a
    pendant edge still has 4."""
    from crypto_data_ingestion_script_spark.operators.graph import triangle_count

    def count(edges):
        df = spark.createDataFrame(edges, "u bigint, v bigint")
        return triangle_count(df).count()

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    star = [(1, i) for i in range(2, 12)]
    assert count(k4) == 4
    assert count(path) == 0
    assert count(star) == 0
    assert count(k4 + [(4, 5)]) == 4


def test_triangle_count_forced_shuffle_path_equivalent(spark):
    """The broadcast budget is expressed in estimated BYTES; forcing the
    cap to 0 must route the closing probe through the shuffle-join scale
    path and still produce identical counts — the 100 TB branch is
    exercised, not trusted (the token_rank guard's test pattern)."""
    from crypto_data_ingestion_script_spark.operators.graph import triangle_count

    k4_pendant = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(k4_pendant, "u bigint, v bigint")
    assert triangle_count(df, broadcast_adj_cap_bytes=0).count() == 4
    forced = triangle_count(df, broadcast_adj_cap_bytes=0)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan


def test_connected_components_matches_union_find(spark):
    """The general iterative min-label CC (connected_components) and the
    block-local union-find labeling used by q_dedup_clusters must agree:
    on a random blocked graph (edges only within blocks, the
    q_dedup_fuzzy invariant) both must label every node with the min id
    reachable from it. Reference: plain Python union-find."""
    import random

    from crypto_data_ingestion_script_spark.llm.dedup import connected_components

    rng = random.Random(11)
    for trial in range(3):
        n_blocks = rng.randint(2, 5)
        nodes, edges = [], []
        base = 0
        for _ in range(n_blocks):
            size = rng.randint(1, 12)
            ids = list(range(base, base + size))
            nodes.extend(ids)
            for _ in range(rng.randint(0, 2 * size)):
                a, b = rng.sample(ids, 2) if size >= 2 else (ids[0], ids[0])
                if a != b:
                    edges.append((min(a, b), max(a, b)))
            base += size + rng.randint(1, 5)
        parent = {x: x for x in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {x: find(x) for x in nodes}

        ndf = spark.createDataFrame([(x,) for x in nodes], "id long")
        edf = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
        # Both execution paths must agree with the reference: the bounded
        # driver-side fast path (default cap) AND the fully distributed
        # iterative propagation (cap forced to 0).
        for cap in (200_000, 0):
            got = {
                r["id"]: r["label"]
                for r in connected_components(
                    ndf, edf, small_edge_cap=cap
                ).collect()
            }
            assert got == expected, f"trial {trial} cap {cap}"


def test_jaccard_prefix_filter_no_false_negatives():
    """q_jaccard_join's pruning rule: rank tokens by global rarity, keep
    each set's first n - ceil(tau*n) + 1 tokens as join keys; pairs with
    disjoint prefixes are discarded WITHOUT exact verification. If that
    ever dropped a true pair the operator would silently under-report, so
    prove the guarantee on random universes against brute force."""
    import math
    import random

    rng = random.Random(7)
    tau = 0.9
    for trial in range(300):
        universe = list(range(rng.randint(5, 40)))
        sets = []
        base = rng.sample(universe, rng.randint(1, len(universe)))
        for _ in range(rng.randint(2, 8)):
            s = set(base)
            for tok in universe:
                if rng.random() < 0.15:
                    (s.discard if tok in s else s.add)(tok)
            if s:
                sets.append(frozenset(s))
        freq = {}
        for s in sets:
            for tok in s:
                freq[tok] = freq.get(tok, 0) + 1
        order = {t: i for i, t in enumerate(sorted(freq, key=lambda t: (freq[t], t)))}
        def prefix(s):
            ranked = sorted(s, key=order.__getitem__)
            plen = len(s) - math.ceil(tau * len(s)) + 1
            return set(ranked[:plen])
        for i in range(len(sets)):
            for j in range(i + 1, len(sets)):
                a, b = sets[i], sets[j]
                jac = len(a & b) / len(a | b)
                if jac >= tau:
                    assert prefix(a) & prefix(b), (
                        f"trial {trial}: true pair pruned (jaccard={jac})"
                    )


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.sampled_from(["hot", "warm", "a", "b", "c", "d", "e", "f", "g"]),
        min_size=30,
        max_size=300,
    ),
    nparts=st.integers(min_value=1, max_value=8),
)
def test_misra_gries_candidates_superset(spark, data, nparts):
    """MG sketch law: with k+1 >= 1/phi counters, the candidate set is a
    superset of the exact phi-heavy-hitters — no false negatives, ever
    (false positives are fine; the recount removes them)."""
    from collections import Counter

    from crypto_data_ingestion_script_spark.operators.skew import mg_candidates

    phi, k = 0.25, 4  # k + 1 = 5 > 1/phi = 4
    tokens = spark.createDataFrame(
        [(t,) for t in data], "token string"
    ).repartition(nparts)
    got = {r.token for r in mg_candidates(tokens, k).collect()}
    counts = Counter(data)
    heavy = {t for t, c in counts.items() if c > phi * len(data)}
    assert heavy <= got, f"missing heavy hitters: {heavy - got}"


# --- Two-pass ranking equivalence (ranking.py) ------------------------------
# global_row_number / global_running_sum back four declared queries; their
# correctness claim is boundary-invariance: identical output to the naive
# single-partition window REGARDLESS of where range bounds fall. Drive both
# with random multisets (duplicates + negatives + skew) and compare exactly.

rank_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),  # order key (duplicates!)
        st.integers(min_value=0, max_value=9),     # tiebreak
        st.integers(min_value=-5, max_value=100),  # value for running sum
    ),
    min_size=1,
    max_size=120,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rank_rows_strategy)
def test_two_pass_rank_and_running_sum_match_global_window(spark, rows):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crypto_data_ingestion_script_spark.ranking import (
        global_row_number,
        global_running_sum,
    )

    # Unique (k, tb, idx) triples make the order total → deterministic.
    data = [(k, tb, i, v) for i, (k, tb, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, tb int, idx int, v long")
    order = ("k", "tb", "idx")

    got_rank = {
        r["idx"]: r["rn"]
        for r in global_row_number(df, *order, out_col="rn", n_ranges=7).collect()
    }
    w = Window.orderBy(*order)
    want_rank = {
        r["idx"]: r["rn"]
        for r in df.select("idx", F.row_number().over(w).alias("rn")).collect()
    }
    assert got_rank == want_rank

    got_sum = {
        r["idx"]: r["rs"]
        for r in global_running_sum(
            df, "v", *order, out_col="rs", n_ranges=7
        ).collect()
    }
    w_sum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want_sum = {
        r["idx"]: r["rs"]
        for r in df.select("idx", F.sum("v").over(w_sum).alias("rs")).collect()
    }
    assert got_sum == want_sum


grun_rows_strategy = st.dictionaries(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # group
        st.integers(min_value=-50, max_value=50),   # distinct order key
    ),
    st.tuples(
        st.integers(min_value=-5, max_value=100),   # sum col a
        st.integers(min_value=0, max_value=9),      # sum col b
    ),
    min_size=1,
    max_size=80,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=grun_rows_strategy, descending=st.booleans())
def test_global_running_matches_bare_window(spark, rows, descending):
    """ranking.global_running (the r13 replacement for the distinct-
    value-grain bare windows in q_mann_whitney/q_ks_drift/q_auc/
    q_wasserstein/q_kruskal_wallis/q_avg_precision/q_spearman) must be
    boundary-invariant: multi-column running sums, the global lead, the
    grouped and the descending paths all exactly match the naive
    single-partition window regardless of where range bounds fall."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crypto_data_ingestion_script_spark.ranking import global_running

    data = [(g, k, a, b) for (g, k), (a, b) in sorted(rows.items())]
    df = spark.createDataFrame(data, "g int, k int, a long, b long")
    oc = F.col("k").desc() if descending else F.col("k")

    # Grouped path: running sums of BOTH columns + lead of the order key.
    got = {
        (r["g"], r["k"]): (r["run_a"], r["run_b"], r["lead_k"])
        for r in global_running(
            df, "k", part_cols=("g",), sums=("a", "b"), leads=("k",),
            descending=descending, n_ranges=5,
        ).collect()
    }
    w = (
        Window.partitionBy("g").orderBy(oc)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wl = Window.partitionBy("g").orderBy(oc)
    want = {
        (r["g"], r["k"]): (r["ra"], r["rb"], r["lk"])
        for r in df.select(
            "g", "k",
            F.sum("a").over(w).alias("ra"),
            F.sum("b").over(w).alias("rb"),
            F.lead("k").over(wl).alias("lk"),
        ).collect()
    }
    assert got == want

    # Ungrouped path (the q_auc/q_ks_drift shape): restrict to one group
    # so the order key is distinct — a total order, like the distinct-
    # value grains the seven callers feed it.
    one = df.filter(F.col("g") == 0)
    got_u = {
        r["k"]: (r["run_a"], r["lead_k"])
        for r in global_running(
            one, "k", sums=("a",), leads=("k",),
            descending=descending, n_ranges=5,
        ).collect()
    }
    w_u = Window.orderBy(oc).rowsBetween(Window.unboundedPreceding, 0)
    wl_u = Window.orderBy(oc)
    want_u = {
        r["k"]: (r["ra"], r["lk"])
        for r in one.select(
            "k",
            F.sum("a").over(w_u).alias("ra"),
            F.lead("k").over(wl_u).alias("lk"),
        ).collect()
    }
    assert got_u == want_u


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n=st.integers(min_value=1, max_value=40),
    k=st.integers(min_value=1, max_value=7),
)
def test_global_ntile_matches_window_ntile(spark, n, k):
    """ranking.global_ntile's closed form over (global rank, N) must
    reproduce NTILE(k) exactly — including the remainder rule (first
    N mod k buckets take one extra row) and the N < k edge — for the
    q_rfm quintiles to stay hash-identical to the oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crypto_data_ingestion_script_spark.ranking import global_ntile

    df = spark.createDataFrame([(i,) for i in range(n)], "x int")
    got = {
        r["x"]: r["nt"]
        for r in global_ntile(df, k, "x", out_col="nt", n_ranges=5).collect()
    }
    want = {
        r["x"]: r["nt"]
        for r in df.select(
            "x", F.ntile(k).over(Window.orderBy("x")).alias("nt")
        ).collect()
    }
    assert got == want


def test_member_slice_expansion_enumerates_all_pairs(spark):
    """The dedup family's shared member helpers. ``_within_pairs`` pairs
    each sorted member with its strict suffix (posexplode + slice) and
    must enumerate every unordered pair exactly once with a < b, for any
    group size including the size-1 and size-2 edges. ``_cross_pairs``
    must give |ma|·|mb| pairs with a < b carrying the group pair's score,
    and ``_collapse`` must key each group by its min member with a
    sorted member list. Zero-row inputs give zero rows."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from crypto_data_ingestion_script_spark.llm.dedup import (
        _collapse,
        _cross_pairs,
        _within_pairs,
    )

    groups = [[7], [3, 9], [1, 4, 6], [10, 20, 30, 40, 50]]
    df = spark.createDataFrame(
        [(i, sorted(g)) for i, g in enumerate(groups)],
        "gid int, members array<bigint>",
    )
    got = sorted((r["a"], r["b"]) for r in _within_pairs(df, "a", "b").collect())
    want = sorted(
        (a, b) for g in groups for a, b in combinations(sorted(g), 2)
    )
    assert got == want

    gpairs = [([2, 8], [1, 5, 9], 0.5), ([4], [3], 0.9), ([6, 7], [11], 1.0)]
    gp = spark.createDataFrame(
        gpairs, "ma array<bigint>, mb array<bigint>, s double"
    )
    cross = _cross_pairs(gp, "ma", "mb", "a", "b", "s")
    got = sorted(tuple(r) for r in cross.collect())
    want = sorted(
        (min(x, y), max(x, y), s) for ma, mb, s in gpairs for x in ma for y in mb
    )
    assert got == want and all(a < b for a, b, _ in got)

    docs = spark.createDataFrame(
        [(9, "x"), (2, "y"), (5, "x"), (1, "x"), (7, "y"), (3, "z")],
        "doc_id bigint, key string",
    )
    got = {
        r["key"]: (r["gid"], list(r["members"]))
        for r in _collapse(docs, "doc_id", "key").collect()
    }
    assert got == {"x": (1, [1, 5, 9]), "y": (2, [2, 7]), "z": (3, [3])}

    assert _within_pairs(df.limit(0), "a", "b").count() == 0
    assert _cross_pairs(gp.limit(0), "ma", "mb", "a", "b", "s").count() == 0
    assert _collapse(docs.limit(0), "doc_id", "key").count() == 0


def test_cone_blocked_edges_exact_and_prunes(spark):
    """`cone_blocked_edges` (q_dedup_semantic's threshold-graph engine)
    must emit EXACTLY the brute-force cosine-threshold edge set — the
    spherical-triangle-inequality block pruning is only allowed to skip
    provably-empty cell pairs — and on an angularly clustered corpus
    (the 100 TB regime the pruning exists for) it must actually prune:
    fewer surviving blocks than the full k(k+1)/2."""
    import numpy as np

    from crypto_data_ingestion_script_spark.llm.dedup import cone_blocked_edges

    rng = np.random.default_rng(7)
    dim, tau = 16, 0.8
    # 6 well-separated direction anchors; 40 vectors jittered around each.
    anchors = rng.normal(size=(6, dim))
    anchors /= np.linalg.norm(anchors, axis=1)[:, None]
    vecs = []
    for a in anchors:
        pts = a[None, :] + 0.06 * rng.normal(size=(40, dim))
        vecs.append(pts / np.linalg.norm(pts, axis=1)[:, None])
    M = np.concatenate(vecs)
    ids = np.arange(len(M), dtype="int64") * (2**40)  # big ids: no float53 risk

    Mn = M / np.linalg.norm(M, axis=1)[:, None]
    sims = Mn @ Mn.T
    ai, bj = np.nonzero(np.triu(sims >= tau, 1))
    want = sorted(zip(ids[ai].tolist(), ids[bj].tolist()))
    assert len(want) > 100  # the fixture must exercise real edges

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, M)],
        "gid bigint, embedding array<float>",
    )
    stats: dict = {}
    got_df = cone_blocked_edges(df, tau, k=8, stats=stats)
    got = sorted((r["a"], r["b"]) for r in got_df.collect())
    # float32 storage in the DataFrame vs float64 brute force: recompute
    # the expectation from the float32-rounded vectors to match exactly.
    M32 = M.astype("float32").astype("float64")
    Mn32 = M32 / np.linalg.norm(M32, axis=1)[:, None]
    s32 = Mn32 @ Mn32.T
    ai, bj = np.nonzero(np.triu(s32 >= tau, 1))
    want32 = sorted(zip(ids[ai].tolist(), ids[bj].tolist()))
    assert got == want32
    assert stats["n_blocks"] < stats["n_blocks_total"], stats


def test_cone_blocked_edges_chunked_rerank_equivalent(spark, monkeypatch):
    """The block rerank's row-chunked matmul (worker memory O(chunk × |R|)
    instead of O(n²) — the k=1 whole-corpus-diagonal hazard, ADVICE r5
    item 4) must emit the identical edge set when the sims budget forces
    MANY chunks per block, including the k=1 single-block path."""
    import numpy as np

    from crypto_data_ingestion_script_spark.llm import dedup as dd

    rng = np.random.default_rng(13)
    dim, tau = 16, 0.8
    anchors = rng.normal(size=(4, dim))
    anchors /= np.linalg.norm(anchors, axis=1)[:, None]
    vecs = []
    for a in anchors:
        pts = a[None, :] + 0.06 * rng.normal(size=(30, dim))
        vecs.append(pts / np.linalg.norm(pts, axis=1)[:, None])
    M = np.concatenate(vecs)
    ids = np.arange(len(M), dtype="int64")
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, M)],
        "gid bigint, embedding array<float>",
    )

    def edges(k):
        return sorted(
            (r["a"], r["b"])
            for r in dd.cone_blocked_edges(df, tau, k=k).collect()
        )

    want_k4, want_k1 = edges(4), edges(1)
    assert want_k4 == want_k1 and len(want_k1) > 50
    # budget of 8*64 bytes/row -> chunk floor of 64 rows: every 120-row
    # block reranks in >=2 chunks, the diagonal k=1 block in 2.
    monkeypatch.setattr(dd, "SIMS_BLOCK_BUDGET_BYTES", 1)
    assert edges(4) == want_k4
    assert edges(1) == want_k1


def test_copurchase_edges_mega_order_chunked(spark):
    """`copurchase_edges` (q_triangles' edge generator) must produce the
    exact distinct co-occurrence pair set even when one mega-group
    exceeds the chunk size — the skew guard cuts each group's sorted
    item list into chunks and spreads cross-chunk products across tasks,
    and that path must enumerate every pair exactly once. A planted
    200-item order against chunk=16 forces ~78 cross-chunk blocks; small
    orders and a duplicate (o, p) row ride along to cover the
    non-chunked edges and the collect_set guard."""
    from itertools import combinations

    from crypto_data_ingestion_script_spark.operators.graph import (
        copurchase_edges,
        triangle_count,
    )

    mega = [(1, p) for p in range(1000, 1200)]  # 200 parts, one order
    small = [(2, 5), (2, 9), (3, 9), (3, 5), (3, 7), (4, 42), (2, 5)]
    df = spark.createDataFrame(mega + small, "o bigint, p bigint")

    stats: dict = {}
    got = sorted(
        (r["u"], r["v"])
        for r in copurchase_edges(df, chunk=16, stats=stats).collect()
    )
    assert stats["chunked"] and stats["max_group"] == 200

    want = set()
    for order in ([p for o, p in mega], [5, 9], [5, 7, 9], [42]):
        want.update(combinations(sorted(set(order)), 2))
    assert got == sorted(want)
    # the mega-order is a 200-clique: C(200,3) triangles + the (5,7,9) one
    n_tri = triangle_count(
        spark.createDataFrame(got, "u bigint, v bigint")
    ).count()
    assert n_tri == 200 * 199 * 198 // 6 + 1


def test_containment_prefix_filter_no_false_negatives():
    """q_containment_join's ONE-SIDED pruning rule: if C(A,B) =
    |A∩B|/|A| >= tau then B contains at least ceil(tau*|A|) of A's
    tokens, so B must hold one of A's (|A| - ceil(tau*|A|) + 1) rarest
    tokens — the probe prefix intersects B's FULL set (never B's prefix:
    containment puts no upper bound on |B|, so B-side pruning would be
    unsound). Prove on random universes against brute force, and also
    prove the length filter |B| >= ceil(tau*|A|) never prunes a true
    pair."""
    import math
    import random

    rng = random.Random(13)
    tau = 0.9
    for trial in range(300):
        universe = list(range(rng.randint(5, 40)))
        sets = []
        base = rng.sample(universe, rng.randint(1, len(universe)))
        for _ in range(rng.randint(2, 8)):
            s = set(base)
            for tok in universe:
                if rng.random() < 0.15:
                    (s.discard if tok in s else s.add)(tok)
            if s:
                sets.append(frozenset(s))
        freq = {}
        for s in sets:
            for tok in s:
                freq[tok] = freq.get(tok, 0) + 1
        order = {t: i for i, t in enumerate(sorted(freq, key=lambda t: (freq[t], t)))}

        def prefix(s):
            ranked = sorted(s, key=order.__getitem__)
            plen = len(s) - math.ceil(tau * len(s)) + 1
            return set(ranked[:plen])

        for a in sets:
            for b in sets:
                if a is b:
                    continue
                cont = len(a & b) / len(a)
                if cont >= tau:
                    assert prefix(a) & b, (
                        f"trial {trial}: true pair pruned (containment={cont})"
                    )
                    assert len(b) >= math.ceil(tau * len(a)), (
                        f"trial {trial}: length filter pruned a true pair"
                    )


def test_cone_blocked_edges_adaptive_k_small_corpus_exact(spark):
    """`cone_blocked_edges` with the default k=None must pick ONE cell for
    a corpus far below block_target (the k=1 fast path skips k-means /
    radii / block-join machinery entirely) and still emit exactly the
    brute-force threshold edge set."""
    import numpy as np

    from crypto_data_ingestion_script_spark.llm.dedup import cone_blocked_edges

    rng = np.random.default_rng(23)
    M = rng.normal(size=(60, 8))
    ids = np.arange(60, dtype="int64") * (2**40)
    M32 = M.astype("float32").astype("float64")
    Mn = M32 / np.linalg.norm(M32, axis=1)[:, None]
    sims = Mn @ Mn.T
    tau = 0.5
    ai, bj = np.nonzero(np.triu(sims >= tau, 1))
    want = sorted(zip(ids[ai].tolist(), ids[bj].tolist()))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, M)],
        "gid bigint, embedding array<float>",
    )
    stats: dict = {}
    got = sorted(
        (r["a"], r["b"]) for r in cone_blocked_edges(df, tau, stats=stats).collect()
    )
    assert stats == {"n_cells": 1, "n_blocks": 1, "n_blocks_total": 1}
    assert got == want
