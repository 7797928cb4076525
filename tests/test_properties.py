"""Property-based tests (SURVEY.md §5.2.3).

Pure-Python properties use hypothesis directly; Spark properties batch many
random cases into ONE job (a `case` key column) so the suite stays fast.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import re

import duckdb
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import (
    glob_to_regex,
    qfloor,
    qfloor_sql,
)
from kenshin_backup_spark.operators.policies import Policy, assign_policy
from kenshin_backup_spark.operators.rollup import cascade, finalize, rollup_partials

UTC = dt.timezone.utc

_SEG = st.text(alphabet="abcdefgh123", min_size=1, max_size=4)


@given(st.lists(_SEG, min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_glob_exact_name_matches_itself(segments):
    name = ".".join(segments)
    assert re.match(glob_to_regex(name), name)


@given(st.lists(_SEG, min_size=2, max_size=4), st.integers(0, 3))
@settings(max_examples=200, deadline=None)
def test_glob_star_matches_any_single_segment(segments, pos):
    pos = pos % len(segments)
    name = ".".join(segments)
    glob = ".".join("*" if i == pos else s for i, s in enumerate(segments))
    pat = glob_to_regex(glob)
    assert re.match(pat, name)
    # star must NOT cross a dot boundary
    extended = ".".join(segments[:pos] + ["x.y"] + segments[pos + 1 :])
    assert not re.match(pat, extended)


def test_qfloor_is_exact_on_its_grid_and_matches_duckdb(spark):
    """qfloor(x, scale) is the largest k with k / scale <= x in double:
    it maps every grid value k / scale back to k (a bare FLOOR(x * 1e6)
    maps 133.26 to 133259999), never exceeds x off the grid, and its
    DuckDB mirror gives the same BIGINT for every row."""
    rng = random.Random(7)
    cases = []  # (scale, k on the grid or None, x)
    for scale, top in ((1_000_000, 4 * 10**15), (1_000, 4 * 10**12)):
        ks = list(range(-3000, 3001)) + [133_260_000, 545_425_000]
        ks += [rng.randint(-top, top) for _ in range(3000)]
        for k in ks:
            x = k / scale
            cases.append((scale, k, x))
            cases.append((scale, None, math.nextafter(x, math.inf)))
            cases.append((scale, None, math.nextafter(x, -math.inf)))
        cases += [(scale, None, rng.uniform(-1e9, 1e9)) for _ in range(2000)]
    rows = [(i, sc, x) for i, (sc, _, x) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, scale long, x double")
    got = {
        r["i"]: r["q"]
        for r in df.select(
            "i",
            F.when(F.col("scale") == 1_000, qfloor("x", 1_000))
            .otherwise(qfloor("x"))
            .alias("q"),
        ).collect()
    }
    for i, (scale, k, x) in enumerate(cases):
        q = got[i]
        if k is not None:
            assert q == k, (scale, k, x, q)
        assert q / scale <= x < (q + 1) / scale, (scale, x, q)

    t = pa.table(
        {
            "i": pa.array([r[0] for r in rows], pa.int64()),
            "scale": pa.array([r[1] for r in rows], pa.int64()),
            "x": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    con = duckdb.connect()
    con.register("t", t)
    duck = dict(
        con.execute(
            f"SELECT i, CASE WHEN scale = 1000 THEN {qfloor_sql('x', 1_000)} "
            f"ELSE {qfloor_sql('x')} END FROM t"
        ).fetchall()
    )
    con.close()
    assert duck == got


def test_cascade_equals_direct_many_random_cases(spark):
    """rollup(rollup(x, fine), coarse) == rollup(x, coarse) across 40
    random point sets (duplicate ts, out-of-order, negative values, gaps) —
    all verified in one Spark job via a case key."""
    rng = random.Random(42)
    rows = []
    for case in range(40):
        fine = rng.choice([10, 30, 60])
        coarse = fine * rng.choice([2, 6, 10])
        npts = rng.randint(1, 200)
        base = rng.randint(0, 10_000)
        for _ in range(npts):
            t = base + rng.randint(0, 5000)
            v = round(rng.uniform(-500, 500), rng.choice([0, 2, 6]))
            rows.append((f"case{case}_f{fine}_c{coarse}", dt.datetime.fromtimestamp(t, UTC), v))
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")

    # group cases by (fine, coarse) pairs — run each config once
    configs = sorted({
        (int(m.split("_f")[1].split("_c")[0]), int(m.split("_c")[1]))
        for m, _, _ in rows
    })
    for fine, coarse in configs:
        sub = df.where(F.col("metric").endswith(f"_f{fine}_c{coarse}"))
        via = finalize(cascade(
            rollup_partials(sub, key_cols=["metric"], step_seconds=fine),
            key_cols=["metric"], step_seconds=coarse,
        ))
        direct = finalize(rollup_partials(sub, key_cols=["metric"], step_seconds=coarse))
        cols = ["metric", "bucket_ts", "cnt", "sum_value", "avg_value",
                "min_value", "max_value", "last_value"]
        a = sorted(map(tuple, via.select(cols).collect()))
        b = sorted(map(tuple, direct.select(cols).collect()))
        assert a == b, f"cascade mismatch for fine={fine} coarse={coarse}"


def test_policy_first_match_is_deterministic(spark):
    """Ordered regex assignment: overlapping patterns always resolve to the
    FIRST match, regardless of evaluation order."""
    policies = [
        Policy(name="p0", pattern="^a"),
        Policy(name="p1", pattern="ab"),      # overlaps p0 for 'ab…'
        Policy(name="p2", pattern="b$"),      # overlaps p1 for '…ab'
        Policy(name="p3", pattern=".*"),
    ]
    names = ["abc", "ab", "xb", "zzz", "a", "bab"]
    df = spark.createDataFrame([(n,) for n in names], "metric string")
    got = {r["metric"]: r["policy"] for r in
           assign_policy(df, policies).collect()}
    # reference: first pattern in ORDER that searches successfully
    import re as _re
    want = {}
    for n in names:
        for p in policies:
            if _re.search(p.pattern, n):
                want[n] = p.name
                break
    assert got == want


def test_cusum_window_reduction_equals_recursion(spark):
    """The CUSUM query computes s_k = max(0, s_{k-1} + y_k) as
    S_k − min(0, min_{j≤k} S_j) (prefix sum minus clamped running min).
    Pin the algebraic reduction against the direct recursion on random
    integer series — many cases batched into one Spark job."""
    rng = random.Random(11)
    rows = []
    expected = {}
    for case in range(25):
        n = rng.randint(1, 40)
        ys = [rng.randint(-50, 50) for _ in range(n)]
        s = 0
        for k, y in enumerate(ys):
            s = max(0, s + y)
            expected[(case, k)] = s
        rows.extend((case, k, y) for k, y in enumerate(ys))
    df = spark.createDataFrame(rows, "case long, k long, y long")

    from pyspark.sql import Window as W

    w = W.partitionBy("case").orderBy("k")
    run = df.withColumn("S", F.sum("y").over(w))
    out = run.withColumn(
        "smin", F.min(F.least(F.col("S"), F.lit(0))).over(w)
    ).select("case", "k", (F.col("S") - F.col("smin")).alias("cusum"))
    got = {(r["case"], r["k"]): r["cusum"] for r in out.collect()}
    assert got == expected


def test_approx_percentiles_within_rank_error_of_exact(spark):
    """Error-bound evidence for the rows-only approx_event_percentiles:
    percentile_approx(accuracy=10000) guarantees rank error <= n/10000.
    Against the exact sorted values per metric at sf0.001, each reported
    quantile must fall inside the worst-case rank window."""
    from kenshin_backup_spark import queries as reg

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (r["p50"], r["p95"], r["p99"])
        for r in reg.queries()["approx_event_percentiles"](spark, sf).collect()
    }
    from kenshin_backup_spark.sources import load_table

    ev = load_table(spark, sf, "events").select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        slack = max(1, (n + 9999) // 10000)  # ceil(n/accuracy), >= 1 rank
        for q, approx in zip((0.50, 0.95, 0.99), got[et]):
            target = int(q * n)
            lo = vals[max(0, target - slack - 1)]
            hi = vals[min(n - 1, target + slack)]
            assert lo <= approx <= hi, (et, q, approx, lo, hi)


def test_holt_linear_forecast_recurrence(spark):
    """Pin the rows-only Holt linear forecast to an independent reference
    recurrence: build a tiny events frame whose hourly sums are known,
    run the query, and check level/trend/forecast for every step."""
    import datetime as _dt

    from kenshin_backup_spark.queries.batch16 import tsdb_holt_linear_forecast

    # stage a minimal sf-dir-shaped events.parquet: one metric, 4 hours
    import tempfile

    vals = [(0, 6.0), (1, 8.0), (2, 5.0), (3, 9.0)]
    rows = [
        (i, _dt.datetime(2024, 5, 1, h, 0, 0, tzinfo=UTC), 1, "m", v, "{}")
        for i, (h, v) in enumerate(vals)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            r["bucket_ts"]: (r["level"], r["trend"], r["forecast_next"])
            for r in tsdb_holt_linear_forecast(spark, d).collect()
        }

    # independent recurrence (alpha=0.5, beta=0.3 per the query)
    alpha, beta = 0.5, 0.3
    level, trend = None, 0.0
    expected = []
    for _, y in vals:
        if level is None:
            level = y
        else:
            prev = level
            level = alpha * y + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
        expected.append((level, trend, level + trend))
    base = int(_dt.datetime(2024, 5, 1, tzinfo=UTC).timestamp())
    for i, (h, _) in enumerate(vals):
        assert got[base + h * 3600] == expected[i]


# --- LTTB downsample (rows-only: sequential greedy, no SQL oracle) ----------

def test_lttb_properties(spark):
    """Endpoints anchored, exact output count, strictly monotone ts,
    output points are a subset of the input series."""
    from kenshin_backup_spark.queries.batch41 import (
        _LTTB_OUT,
        tsdb_downsample_lttb,
    )

    sf = "/root/testdata/sf0.001"
    out = tsdb_downsample_lttb(spark, sf).collect()
    from kenshin_backup_spark.sources import load_table

    ev = load_table(spark, sf, "events")
    es = F.unix_timestamp("ts").cast("long")
    hourly = {
        (r.event_type, r.bucket_ts): r.v
        for r in ev.select(
            "event_type",
            ((es / 3600).cast("long") * 3600).alias("bucket_ts"),
            "value",
        )
        .groupBy("event_type", "bucket_ts")
        .agg(
            (
                (F.sum(F.floor(F.col("value") * 1000000).cast("long")) / F.lit(1e6))
                / F.count("value")
            ).alias("v")
        )
        .collect()
    }
    per_metric: dict[str, list] = {}
    for r in out:
        per_metric.setdefault(r.event_type, []).append((r.ts, r.value))
        assert (r.event_type, r.ts) in hourly  # subset of real points
        assert hourly[(r.event_type, r.ts)] == r.value  # exact values
    in_ts = {}
    for (m, ts) in hourly:
        in_ts.setdefault(m, []).append(ts)
    for m, pts in per_metric.items():
        pts.sort()
        n_in = len(in_ts[m])
        assert len(pts) == min(n_in, _LTTB_OUT)
        assert pts[0][0] == min(in_ts[m])  # first endpoint anchored
        assert pts[-1][0] == max(in_ts[m])  # last endpoint anchored
        ts_list = [t for t, _ in pts]
        assert ts_list == sorted(set(ts_list))  # strictly increasing


def test_lttb_pure_function_small_cases():
    from kenshin_backup_spark.queries.batch41 import _lttb

    # fewer points than buckets → identity
    assert _lttb([1, 2, 3], [1.0, 2.0, 3.0], 60) == [0, 1, 2]
    # a spike must survive: 100 flat points with one spike at index 37
    ts = list(range(100))
    vs = [0.0] * 100
    vs[37] = 50.0
    picked = _lttb(ts, vs, 10)
    assert 37 in picked
    assert picked[0] == 0 and picked[-1] == 99
    assert len(picked) == 10


# --- MMR rerank (rows-only: greedy, no SQL oracle) --------------------------

def test_mmr_rank1_is_cosine_top1_and_diversity_no_worse(spark):
    from kenshin_backup_spark.operators.similarity import cosine_topk
    from kenshin_backup_spark.queries.batch41 import emb_mmr_rerank
    from kenshin_backup_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    out = emb_mmr_rerank(spark, sf).collect()
    emb = load_table(spark, sf, "embeddings")
    top = cosine_topk(emb.where(F.col("vec_id") < 10), emb, k=1).collect()
    top1 = {r.query_id: r.neighbor_id for r in top}
    got1 = {r.query_id: r.neighbor_id for r in out if r.rank == 1}
    assert got1 == top1  # λ-weighted greedy step 1 = pure relevance
    # determinism: a second run returns the identical trace
    again = emb_mmr_rerank(spark, sf).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # each query yields exactly 5 ranks 1..5 with distinct neighbors
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rows in per_q.items():
        assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]
        assert len({r.neighbor_id for r in rows}) == 5


# --- PageRank (rows-only: iterative float recursion) ------------------------

def test_pagerank_mass_star_and_cycle(spark):
    from kenshin_backup_spark.operators.graph import pagerank

    # star: 1..5 all point at 0; 0 is dangling (mass redistributes)
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    ranks = {r.id: r.rank for r in pagerank(edges, nodes, iters=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # probability mass
    assert ranks[0] == max(ranks.values())  # hub dominates
    leaf = [ranks[i] for i in range(1, 6)]
    assert max(leaf) - min(leaf) < 1e-12  # symmetric leaves tie

    # 4-cycle: perfect symmetry → uniform 1/4 each
    cyc = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    cn = spark.createDataFrame([(i,) for i in range(4)], "id long")
    cr = {r.id: r.rank for r in pagerank(cyc, cn, iters=20).collect()}
    for v in cr.values():
        assert abs(v - 0.25) < 1e-9


def test_pagerank_docs_query_stable(spark):
    from kenshin_backup_spark.queries.batch42 import graph_pagerank_docs

    sf = "/root/testdata/sf0.001"
    a = {r.doc_id: r.rank for r in graph_pagerank_docs(spark, sf).collect()}
    b = {r.doc_id: r.rank for r in graph_pagerank_docs(spark, sf).collect()}
    assert abs(sum(a.values()) - 1.0) < 1e-6
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9  # cross-run stability (tolerance:
        # float inflow sums may reassociate across shuffles)


def test_winnowing_detection_guarantee(spark):
    """Schleimer et al. 2003 theorem: if two documents share a substring of
    length >= K + W_WIN - 1 (after normalization), winnowing selects at
    least one common fingerprint — for ANY surrounding context. 25 random
    pairs with a planted shared run, verified in one Spark job."""
    import random
    import string

    from kenshin_backup_spark.queries.batch53 import (
        K,
        W_WIN,
        winnowing_fingerprints,
    )

    rng = random.Random(7)
    alpha = string.ascii_lowercase
    rows = []
    for case in range(25):
        shared_len = K + W_WIN - 1 + rng.randint(0, 20)
        shared = "".join(rng.choice(alpha) for _ in range(shared_len))
        for side in (0, 1):
            pre = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
            post = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
            rows.append((case * 2 + side, pre + shared + post))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(docs).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    for case in range(25):
        a, b = by_doc[case * 2], by_doc[case * 2 + 1]
        assert a & b, f"case {case}: no shared fingerprint"


def test_theilsen_robust_to_single_outlier(spark):
    """Theil–Sen's defining property: one corrupted point barely moves the
    median slope, while it would wreck a mean-of-slopes estimate. Build a
    clean slope-2 hourly grid, corrupt one point by 1000x, and run the
    registered query's arithmetic on both frames."""
    import datetime as dt

    from pyspark.sql import functions as F

    from kenshin_backup_spark.queries.batch54 import tsdb_theilsen_trend

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for variant in ("clean", "dirty"):
        for i in range(24):
            v = 10.0 + 2.0 * i
            if variant == "dirty" and i == 12:
                v *= 1000
            rows.append((variant, base + dt.timedelta(hours=i), v))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")

    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        df.select(
            F.monotonically_increasing_id().alias("event_id"),
            "ts",
            F.lit(0).cast("long").alias("user_id"),
            "event_type",
            "value",
            F.lit('{"k": 0}').alias("props"),
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = {r.metric: r.median_slope
               for r in tsdb_theilsen_trend(spark, d).collect()}
    assert abs(out["clean"] - 2.0) < 1e-6
    # the corrupted series' MEDIAN slope stays within 25% of truth even
    # though one point moved by 5 orders of magnitude
    assert abs(out["dirty"] - 2.0) < 0.5, out


def test_compaction_bins_are_contiguous_and_bounded(spark):
    """Compaction-plan contracts on the real fixture: within each
    partition key, bins cover a contiguous month range (no interleaving)
    and every bin except possibly the last holds >= TARGET bytes once it
    has a successor (the prefix-sum rule can only close a bin after
    crossing the target)."""
    from kenshin_backup_spark.queries.batch54 import (
        TARGET_BYTES,
        layout_compaction_plan,
    )

    rows = layout_compaction_plan(spark, "/root/testdata/sf0.001").collect()
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r.retflag, []).append(r)
    for key, bins in by_key.items():
        bins.sort(key=lambda r: r.bin)
        ids = [r.bin for r in bins]
        assert ids == sorted(set(ids)), key  # unique, ordered
        # the prefix-sum rule closes a bin only after crossing the
        # target, so bin count is bounded by total/target (+1 tail)
        total = sum(r.bin_bytes for r in bins)
        assert len(bins) <= total // TARGET_BYTES + 1, key


def test_incremental_merge_equals_direct_for_any_split(spark):
    """The (sum,count) merge is correct for ANY state/delta split, not
    just the latest-day one the registered query uses: random day splits
    over the fixture must all reproduce the direct rollup."""
    import random

    from pyspark.sql import functions as F

    from kenshin_backup_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    es = F.unix_timestamp("ts").cast("long")
    pts = ev.select(
        F.col("event_type").alias("metric"),
        (es - es % 3600).alias("h"),
        (es - es % 86400).alias("day"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vq"),
    )
    direct = {
        (r.metric, r.h): (r.s, r.c)
        for r in pts.groupBy("metric", "h")
        .agg(F.sum("vq").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    days = sorted({r.day for r in pts.select("day").distinct().collect()})
    rng = random.Random(3)
    for split in rng.sample(days, min(3, len(days))):
        part = (
            pts.groupBy("metric", "h", (F.col("day") >= split).alias("d"))
            .agg(F.sum("vq").alias("s"), F.count(F.lit(1)).alias("c"))
        )
        merged = {
            (r.metric, r.h): (r.s, r.c)
            for r in part.groupBy("metric", "h")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        }
        assert merged == direct, split


def test_twonn_recovers_planted_dimension(spark):
    """TwoNN estimator contract: on points spanning a planted
    3-dimensional linear subspace of 8-D space the estimate is ~3; on
    full-rank gaussian data it is ~8 (MLE tolerance is wide — TwoNN
    variance at n=120 samples is real — but the two cases must separate
    cleanly and bracket their true dimensions)."""
    import numpy as np

    from kenshin_backup_spark.queries.batch68 import twonn_intrinsic_dimension

    rng = np.random.default_rng(5)
    n = 600
    basis = rng.normal(size=(3, 8))
    low = rng.normal(size=(n, 3)) @ basis          # rank-3 manifold
    full = rng.normal(size=(n, 8))                  # rank-8
    for name, data, lo_d, hi_d in (
        ("planted3", low, 1.8, 4.5),
        ("fullrank8", full, 5.5, 11.0),
    ):
        df = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(data)],
            "vec_id long, embedding array<double>",
        )
        est = twonn_intrinsic_dimension(df).first()
        assert lo_d < est.intrinsic_dim < hi_d, (name, est.intrinsic_dim)
    # and the two estimates must separate


# --- Avro OCF codec properties (round 5) ------------------------------------

_AVRO_METRIC = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x10FFFF,
                           blacklist_categories=("Cs",)),
    min_size=0, max_size=40,
)
_AVRO_ROW = st.tuples(
    _AVRO_METRIC,
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, width=64),
)


@given(st.lists(_AVRO_ROW, max_size=300), st.integers(1, 50))
@settings(max_examples=200, deadline=None)
def test_avro_round_trip_any_rows_any_block_size(rows, block_size):
    """encode∘decode is the identity for ANY unicode metric name, any
    64-bit ts (full zigzag range), any finite double, at any blocking."""
    from kenshin_backup_spark.sources.avro_codec import (
        decode_container,
        encode_container,
    )

    enc = encode_container(rows, block_size=block_size)
    assert list(decode_container(enc)) == [
        (m, int(t), float(v)) for m, t, v in rows
    ]


@given(st.lists(_AVRO_ROW, min_size=1, max_size=50), st.integers(1, 10**6))
@settings(max_examples=100, deadline=None)
def test_avro_any_truncation_raises_or_is_header_only(rows, cut):
    """Cutting the byte stream anywhere must either raise ValueError or
    (only when the cut lands exactly on a block boundary) yield a clean
    prefix of whole blocks — never garbage rows, never a silent tail."""
    from kenshin_backup_spark.sources.avro_codec import (
        decode_container,
        encode_container,
    )

    enc = encode_container(rows, block_size=7)
    cut = cut % len(enc)
    try:
        got = list(decode_container(enc[:cut]))
    except ValueError:
        return
    want = [(m, int(t), float(v)) for m, t, v in rows]
    assert got == want[: len(got)]


def _graphite_get_percentile(values, p):
    """graphite-web's _getPercentile (NIST, no interpolation), transcribed
    from the published algorithm as the round-6 reference oracle."""
    import math

    pts = sorted(v for v in values if v is not None)
    if not pts:
        return None
    fractional_rank = (p / 100.0) * (len(pts) + 1)
    rank = int(fractional_rank)
    rank += int(math.ceil(fractional_rank - rank))
    if rank == 0:
        return pts[0]
    if rank - 1 == len(pts):
        return pts[-1]
    return pts[rank - 1]


def test_npercentile_matches_graphite_reference_many_cases(spark):
    """60 random series × random p: the engine's NIST-rank percentile
    equals graphite-web's _getPercentile exactly (the round-6 ADVICE fix
    — the old ceil(n*p/100) rank diverged on even lengths)."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(20260814)
    rows, expect = [], {}
    for case in range(60):
        n = rng.randint(1, 17)
        p = rng.choice([0, 1, 5, 25, 50, 75, 90, 95, 99, 100,
                        rng.uniform(0, 100)])
        vals = [
            None if rng.random() < 0.2 else round(rng.uniform(-50, 50), 4)
            for _ in range(n)
        ]
        if all(v is None for v in vals):
            vals[0] = 1.25
        metric = f"case{case}_p{p}"
        rows += [(metric, 60 * i, v) for i, v in enumerate(vals)]
        expect[metric] = _graphite_get_percentile(vals, p)
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    # group cases by p (the kernel takes one p per call); each call
    # evaluates every series of that p in one job
    got = {}
    by_p = {}
    for m in expect:
        by_p.setdefault(float(m.split("_p")[1]), []).append(m)
    for p, metrics in by_p.items():
        sub = df.where(F.col("metric").isin(metrics))
        out = S._percentile_per_series(sub, p).collect()
        for r in out:
            got[r["metric"]] = r["__pv"]
    assert got == expect


def test_moving_median_matches_reference_many_cases(spark):
    """Random gappy series: movingMedian(n) equals the literal graphite
    safeMedian over series[i-n:i] (strictly-before window, mean of two
    middles on even counts), with leading not-enough-history slots as
    gaps."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(4242)
    rows, expect = [], {}
    w = 4
    for case in range(25):
        n = rng.randint(1, 20)
        vals = [
            None if rng.random() < 0.3 else float(rng.randint(-9, 9))
            for _ in range(n)
        ]
        metric = f"m{case}"
        rows += [(metric, 60 * i, v) for i, v in enumerate(vals)]
        for i, _ in enumerate(vals):
            if i < w:
                med = None
            else:
                window = [v for v in vals[i - w:i] if v is not None]
                if not window:
                    med = None
                else:
                    s = sorted(window)
                    mid = len(s) // 2
                    med = (
                        s[mid]
                        if len(s) % 2 == 1
                        else (s[mid - 1] + s[mid]) / 2.0
                    )
            expect[(metric, 60 * i)] = med
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    got = {
        (r["metric"], r["bucket_ts"]): r["value"]
        for r in S.moving_median(df, w).collect()
    }
    assert got == expect


def test_moving_family_matches_reference_many_cases(spark):
    """Random gappy series: movingSum/Min/Max equal the literal graphite
    movingWindow reference (safe aggregate over series[i-n:i], leading
    slots without a full window as gaps) — completing the round-6
    rolling-family pin next to the movingMedian case."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(77)
    rows = []
    w = 3
    series = {}
    for case in range(20):
        n = rng.randint(1, 15)
        vals = [
            None if rng.random() < 0.3 else float(rng.randint(-20, 20))
            for _ in range(n)
        ]
        series[f"m{case}"] = vals
        rows += [(f"m{case}", 60 * i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def ref(vals, i, agg):
        if i < w:
            return None
        window = [v for v in vals[i - w:i] if v is not None]
        return agg(window) if window else None

    for fn, agg in (
        (S.moving_sum, sum),
        (S.moving_min, min),
        (S.moving_max, max),
    ):
        got = {
            (r["metric"], r["bucket_ts"]): r["value"]
            for r in fn(df, w).collect()
        }
        for m, vals in series.items():
            for i in range(len(vals)):
                expect = ref(vals, i, agg)
                assert got[(m, 60 * i)] == expect, (fn.__name__, m, i)


# --- round-7 wave-3 graphite-parity pins ------------------------------------
# Each reference below is a literal transcription of the published
# graphite-web algorithm (webapp/graphite/render/functions.py), run in
# pure Python against the same random gappy series the engine sees.


def _graphite_changed(vals):
    previous, out = None, []
    for value in vals:
        if previous is None:
            previous = value
            out.append(0.0)
        elif value is not None and previous != value:
            out.append(1.0)
            previous = value
        else:
            out.append(0.0)
    return out


def _graphite_stdev(vals, points, tolerance):
    import math

    valid, s1, s2, out = 0, 0.0, 0.0, []
    for index, new in enumerate(vals):
        dropped = None if index < points else vals[index - points]
        if index >= points and dropped is not None:
            valid -= 1
            s1 -= dropped
            s2 -= dropped * dropped
        if new is not None:
            valid += 1
            s1 += new
            s2 += new * new
        if valid > 0 and float(valid) / points >= tolerance:
            out.append(math.sqrt(max(valid * s2 - s1 * s1, 0.0)) / valid)
        else:
            out.append(None)
    return out


def _graphite_interpolate(vals, limit=None):
    import math

    vals = list(vals)
    lim = math.inf if limit is None else limit
    consecutive = 0
    for i, value in enumerate(vals):
        if value is None:
            consecutive += 1
            continue
        start = i - consecutive - 1
        if 0 < consecutive <= lim and start >= 0:
            last = vals[start]
            if last is not None:
                step = (value - last) / (consecutive + 1)
                for k in range(1, consecutive + 1):
                    vals[start + k] = last + step * k
        consecutive = 0
    return vals


def _graphite_linreg(vals, start_ts, step):
    """linearRegressionAnalysis + forecast: OLS over (index, value) of
    non-None points, then the fitted line in TIME space at every slot."""
    pts = [(i, v) for i, v in enumerate(vals) if v is not None]
    n = len(pts)
    if n < 2:
        return [None] * len(vals)
    si = sum(i for i, _ in pts)
    sv = sum(v for _, v in pts)
    sii = sum(i * i for i, _ in pts)
    siv = sum(i * v for i, v in pts)
    den = float(n * sii - si * si)
    if den == 0:
        return [None] * len(vals)
    factor = (n * siv - si * sv) / den / step
    offset = (sii * sv - siv * si) / den - factor * start_ts
    return [factor * (start_ts + i * step) + offset for i in range(len(vals))]


def _rand_gappy_cases(rng, n_cases, min_len=1, max_len=20, gap_p=0.3):
    rows, series = [], {}
    for case in range(n_cases):
        n = rng.randint(min_len, max_len)
        vals = [
            None if rng.random() < gap_p else float(rng.randint(-9, 9))
            for _ in range(n)
        ]
        metric = f"m{case}"
        series[metric] = vals
        rows += [(metric, 60 * i, v) for i, v in enumerate(vals)]
    return rows, series


def test_changed_matches_graphite_reference_many_cases(spark):
    """Random gappy series: changed() equals graphite's carry-across-gaps
    reference (the round-7 ADVICE fix — lag() lost changes after gaps)."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(70707)
    rows, series = _rand_gappy_cases(rng, 40)
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    got = {
        (r["metric"], r["bucket_ts"]): r["value"]
        for r in S.changed(df).collect()
    }
    for m, vals in series.items():
        want = _graphite_changed(vals)
        for i, w in enumerate(want):
            assert got[(m, 60 * i)] == w, (m, i, vals)


def test_stdev_matches_graphite_reference_many_cases(spark):
    """Random gappy series × window sizes × tolerances: stdev() equals
    graphite's running-window reference, including the bootstrap head
    and the validPoints/points >= tolerance gate (denominator POINTS)."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(70717)
    for points, tol in ((2, 0.1), (3, 0.5), (4, 0.9), (5, 0.1)):
        rows, series = _rand_gappy_cases(rng, 12)
        df = spark.createDataFrame(
            rows, "metric string, bucket_ts long, value double"
        )
        got = {
            (r["metric"], r["bucket_ts"]): r["value"]
            for r in S.stdev_series_window(df, points, tol).collect()
        }
        for m, vals in series.items():
            want = _graphite_stdev(vals, points, tol)
            for i, w in enumerate(want):
                g = got[(m, 60 * i)]
                if w is None:
                    assert g is None, (m, i, points, tol, vals)
                else:
                    assert g is not None and abs(g - w) < 1e-6, (
                        m, i, points, tol, vals)


def test_interpolate_matches_graphite_reference_many_cases(spark):
    """Random gappy series × limits: interpolate() equals graphite's
    linear fill (interior runs only, run length capped by limit)."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(70727)
    for limit in (None, 1, 2, 5):
        rows, series = _rand_gappy_cases(rng, 12, gap_p=0.4)
        df = spark.createDataFrame(
            rows, "metric string, bucket_ts long, value double"
        )
        got = {
            (r["metric"], r["bucket_ts"]): r["value"]
            for r in S.interpolate(df, limit).collect()
        }
        for m, vals in series.items():
            want = _graphite_interpolate(vals, limit)
            for i, w in enumerate(want):
                g = got[(m, 60 * i)]
                if w is None:
                    assert g is None, (m, i, limit, vals)
                else:
                    assert g is not None and abs(g - w) < 1e-9, (
                        m, i, limit, vals)


def test_linear_regression_matches_graphite_reference_many_cases(spark):
    """Random gappy series: linearRegression() equals graphite's
    index-space OLS mapped to time space (identical line on the regular
    grid; centered-x computation differs only in float error)."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(70737)
    rows, series = _rand_gappy_cases(rng, 30, min_len=1, max_len=15)
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    got = {
        (r["metric"], r["bucket_ts"]): r["value"]
        for r in S.linear_regression(df).collect()
    }
    for m, vals in series.items():
        want = _graphite_linreg(vals, 0, 60)
        for i, w in enumerate(want):
            g = got[(m, 60 * i)]
            if w is None:
                assert g is None, (m, i, vals)
            else:
                assert g is not None and abs(g - w) < 1e-6, (m, i, vals)


# --- round-8 wave-4 graphite-parity pins -------------------------------------


def _graphite_holt_winters(vals, step=60, season_seconds=86400):
    """Pure-Python transcription of graphite-web's holtWintersAnalysis
    (render/functions.py): additive triple exponential smoothing with
    alpha=gamma=0.1, beta=0.0035, season_length = season_seconds//step.
    Returns (predictions, deviations) lists."""
    alpha = gamma = 0.1
    beta = 0.0035
    season_length = max(season_seconds // step, 2)
    intercepts, slopes, seasonals = [], [], []
    predictions, deviations = [], []

    def get_last_seasonal(i):
        j = i - season_length
        return seasonals[j] if j >= 0 else 0

    def get_last_deviation(i):
        j = i - season_length
        return deviations[j] if j >= 0 else 0

    next_pred = None
    for i, actual in enumerate(vals):
        if actual is None:
            intercepts.append(None)
            slopes.append(0)
            seasonals.append(0)
            predictions.append(next_pred)
            deviations.append(0)
            next_pred = None
            continue
        if i == 0:
            last_intercept = actual
            last_slope = 0
            prediction = actual
        else:
            last_intercept = intercepts[-1]
            last_slope = slopes[-1]
            if last_intercept is None:
                last_intercept = actual
            prediction = next_pred
        last_seasonal = get_last_seasonal(i)
        next_last_seasonal = get_last_seasonal(i + 1)
        last_seasonal_dev = get_last_deviation(i)
        intercept = alpha * (actual - last_seasonal) + (1 - alpha) * (
            last_intercept + last_slope)
        slope = beta * (intercept - last_intercept) + (1 - beta) * last_slope
        seasonal = gamma * (actual - intercept) + (1 - gamma) * last_seasonal
        next_pred = intercept + slope + next_last_seasonal
        pred_for_dev = prediction if prediction is not None else 0
        deviation = gamma * abs(actual - pred_for_dev) + (
            1 - gamma) * last_seasonal_dev
        intercepts.append(intercept)
        slopes.append(slope)
        seasonals.append(seasonal)
        predictions.append(prediction)
        deviations.append(deviation)
    return predictions, deviations


def test_holt_winters_matches_graphite_reference_many_cases(spark):
    """Random gappy series (short season so the seasonal lookback
    actually engages): the fold's predictions AND deviations equal the
    transcribed graphite loop point-for-point."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(70808)
    rows, series = _rand_gappy_cases(rng, 20, min_len=2, max_len=30)
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    season = 300  # step 60 → L=5: several full seasons inside max_len=30
    hw = S.holt_winters_analysis(df, season_seconds=season)
    got = {
        (r["metric"], r["bucket_ts"]): (r["hw_pred"], r["hw_dev"])
        for r in hw.collect()
    }
    for m, vals in series.items():
        preds, devs = _graphite_holt_winters(vals, 60, season)
        for i in range(len(vals)):
            gp, gd = got[(m, 60 * i)]
            wp, wd = preds[i], devs[i]
            if wp is None:
                assert gp is None, (m, i, vals)
            else:
                assert gp is not None and abs(gp - wp) < 1e-9, (
                    m, i, gp, wp, vals)
            assert abs(gd - wd) < 1e-9, (m, i, gd, wd, vals)


def test_holt_winters_default_season_and_bands(spark):
    """Default one-day season on a 60 s grid (L=1440 — no lookback hits
    within a short window): bands are pred ± 3·dev and aberration is the
    out-of-band excess."""
    from kenshin_backup_spark.operators import seriesfns as S

    vals = [1.0, 2.0, None, 4.0, 40.0, 4.0]
    df = spark.createDataFrame(
        [("m", 60 * i, v) for i, v in enumerate(vals)],
        "metric string, bucket_ts long, value double",
    )
    preds, devs = _graphite_holt_winters(vals, 60, 86400)
    hw = {r["bucket_ts"]: (r["hw_pred"], r["hw_dev"])
          for r in S.holt_winters_analysis(df).collect()}
    for i in range(len(vals)):
        gp, gd = hw[60 * i]
        if preds[i] is None:
            assert gp is None
        else:
            assert abs(gp - preds[i]) < 1e-9
        assert abs(gd - devs[i]) < 1e-9

    bands = {(r["metric"], r["bucket_ts"]): r["value"]
             for r in S.holt_winters_confidence_bands(df, 3.0).collect()}
    ab = {r["bucket_ts"]: r["value"]
          for r in S.holt_winters_aberration(df, 3.0).collect()}
    for i, v in enumerate(vals):
        p, d = preds[i], devs[i]
        up = bands[("holtWintersConfidenceUpper(m)", 60 * i)]
        lo = bands[("holtWintersConfidenceLower(m)", 60 * i)]
        if p is None:
            assert up is None and lo is None and ab[60 * i] == 0.0
            continue
        assert abs(up - (p + 3 * d)) < 1e-9
        assert abs(lo - (p - 3 * d)) < 1e-9
        if v is None:
            assert ab[60 * i] == 0.0
        elif v > up:
            assert abs(ab[60 * i] - (v - up)) < 1e-9
        elif v < lo:
            assert abs(ab[60 * i] - (v - lo)) < 1e-9
        else:
            assert ab[60 * i] == 0.0


def _graphite_consolidate(vals, start, step, mdp, func):
    """Transcription of graphite-web's maxDataPoints consolidation
    (render/views.py band nudge + TimeSeries.__consolidate kernels) with
    consolidate_points' two documented deviations: ALL pre-band points
    are dropped (graphite's del-loop drops valuesToLose−1 — the known
    off-by-one) and no dangling trailing gap point is synthesized.
    Returns {band_ts: value}."""
    import math

    n = len(vals)
    if mdp >= n:
        return {start + i * step: v for i, v in enumerate(vals)}
    vpp = int(math.ceil(n / mdp))
    spp = vpp * step
    nstart = start + spp + start % step - start % spp
    bands: dict[int, list] = {}
    for i, v in enumerate(vals):
        ts = start + i * step
        if ts < nstart:
            continue
        b = nstart + ((ts - nstart) // spp) * spp
        bands.setdefault(b, []).append(v)
    out = {}
    for b, chunk in bands.items():
        usable = [v for v in chunk if v is not None]
        if not usable:
            out[b] = None
        elif func == "sum":
            out[b] = float(sum(usable))
        elif func == "min":
            out[b] = float(min(usable))
        elif func == "max":
            out[b] = float(max(usable))
        elif func == "first":
            out[b] = usable[0]
        elif func == "last":
            out[b] = usable[-1]
        else:
            out[b] = float(sum(usable)) / len(usable)
    return out


def test_consolidate_points_matches_graphite_reference_many_cases(spark):
    """Random gappy series × random (start, step, kernel):
    consolidate_points(mdp) equals the transcribed graphite consolidation
    for every kernel, band-by-band — including unaligned starts (the
    nudge formula), all-gap bands, the consolidateBy legend-wrap kernel
    parse, and the rename-resets-to-average deviation (a wrap that is
    not the OUTERMOST suffix is ignored). Integer-valued doubles keep
    sum/average order-independent so equality is exact. One Spark job
    per mdp value."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(777)
    for mdp in (3, 7, 50):
        rows, expect = [], {}
        for case in range(30):
            n = rng.randint(1, 120)
            step = rng.choice([10, 60, 300])
            start = rng.randint(0, 100_000)
            vals = [
                None if rng.random() < 0.35 else float(rng.randint(-9, 9))
                for _ in range(n)
            ]
            func = rng.choice(
                ["average", "avg", "sum", "min", "max", "first", "last",
                 None, "nested"]
            )
            if func is None:
                metric = f"m{case}"
                eff = "average"
            elif func == "nested":
                # wrap not outermost -> kernel resets to average
                metric = f'scale(consolidateBy(m{case},"max"),1)'
                eff = "average"
            else:
                metric = f'consolidateBy(m{case},"{func}")'
                eff = "average" if func == "avg" else func
            rows += [(metric, start + step * i, v) for i, v in enumerate(vals)]
            for b, v in _graphite_consolidate(
                vals, start, step, mdp, eff
            ).items():
                expect[(metric, b)] = v
        df = spark.createDataFrame(
            rows, "metric string, bucket_ts long, value double"
        )
        got = {
            (r["metric"], r["bucket_ts"]): r["value"]
            for r in S.consolidate_points(df, mdp).collect()
        }
        assert got == expect, f"mdp={mdp}"


def test_consolidate_points_xff_matches_graphite_reference(spark):
    """Random gappy series × random (kernel, xFilesFactor):
    consolidate_points(mdp, func_hint, x_files_factor) equals the
    transcribed graphite consolidation with the TimeSeries.__consolidate
    xFilesFactor gate (len(usable) < xff * len(values) → gap, band size
    counted INCLUDING gap slots) — the round-9 render-time xff hint.
    func_hint dispatch is pinned at the same time (names carry no
    legend wrap here). One Spark job per (mdp, xff) pair."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(909)
    for mdp, xff in ((3, 0.25), (3, 0.9), (7, 0.5), (7, 1.0)):
        rows, expect = [], {}
        for case in range(20):
            n = rng.randint(2, 100)
            step = rng.choice([10, 60])
            start = rng.randint(0, 50_000)
            vals = [
                None if rng.random() < 0.5 else float(rng.randint(-9, 9))
                for _ in range(n)
            ]
            func = rng.choice(
                ["average", "sum", "min", "max", "first", "last"]
            )
            metric = f"c{case}_{func}"
            base = _graphite_consolidate(vals, start, step, mdp, func)
            if mdp < n:
                # re-derive each band's slot/usable counts for the gate
                import math
                vpp = int(math.ceil(n / mdp))
                spp = vpp * step
                nstart = start + spp + start % step - start % spp
                last = start + (n - 1) * step
                if vpp > 1 and nstart > last:
                    nstart = start  # the round-9 clamp
                counts = {}
                for i, v in enumerate(vals):
                    ts = start + i * step
                    if ts < nstart:
                        continue
                    b = nstart + ((ts - nstart) // spp) * spp
                    tot, use = counts.get(b, (0, 0))
                    counts[b] = (tot + 1, use + (v is not None))
                for b, v in base.items():
                    tot, use = counts[b]
                    expect[(metric, b)] = None if use < xff * tot else v
            else:
                for b, v in base.items():
                    expect[(metric, b)] = v
            rows += [
                (metric, start + step * i, v) for i, v in enumerate(vals)
            ]
            # the direct call dispatches via func_hint per frame, so
            # group frames by kernel: run one consolidate per func below
        df = spark.createDataFrame(
            rows, "metric string, bucket_ts long, value double"
        )
        got = {}
        for func in ("average", "sum", "min", "max", "first", "last"):
            sub = df.where(df.metric.endswith(f"_{func}"))
            for r in S.consolidate_points(
                sub, mdp, func_hint=func, x_files_factor=xff
            ).collect():
                got[(r["metric"], r["bucket_ts"])] = r["value"]
        assert got == expect, f"mdp={mdp} xff={xff}"


def _graphite_get_percentile(points, n, interpolate=False):
    """Literal transcription of graphite-web render.functions
    _getPercentile (both branches)."""
    import math

    sortedPoints = sorted(p for p in points if p is not None)
    if len(sortedPoints) == 0:
        return None
    fractionalRank = (n / 100.0) * (len(sortedPoints) + 1)
    rank = int(fractionalRank)
    rankFraction = fractionalRank - rank
    if not interpolate:
        rank += int(math.ceil(rankFraction))
    if rank == 0:
        percentile = sortedPoints[0]
    elif rank - 1 == len(sortedPoints):
        percentile = sortedPoints[-1]
    else:
        percentile = sortedPoints[rank - 1]
    if interpolate and rank != len(sortedPoints):
        nxt = sortedPoints[min(rank, len(sortedPoints) - 1)]
        percentile = percentile + rankFraction * (nxt - percentile)
    return percentile


def test_percentile_interpolate_matches_graphite_reference(spark):
    """Random per-bucket value sets × random p: percentileOfSeries with
    interpolate=True/False equals graphite's _getPercentile transcription
    exactly (identical IEEE op order: base + frac·(next − base))."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(4242)
    for interpolate in (False, True):
        for p in (10.0, 37.5, 50.0, 90.0, 99.0):
            # 40 buckets; per bucket 1-9 series values with gaps
            rows, expect = [], {}
            for b in range(40):
                vals = [
                    None if rng.random() < 0.3
                    else float(rng.randint(-50, 50))
                    for _ in range(rng.randint(1, 9))
                ]
                for i, v in enumerate(vals):
                    rows.append((f"s{i}", b * 60, v))
                expect[b * 60] = _graphite_get_percentile(
                    vals, p, interpolate
                )
            df = spark.createDataFrame(
                rows, "metric string, bucket_ts long, value double"
            )
            got = {
                r.bucket_ts: r.value
                for r in S.percentile_of_series(
                    df, p, interpolate=interpolate
                ).collect()
            }
            assert got == expect, f"p={p} interpolate={interpolate}"


def test_linear_regression_source_window_matches_graphite_reference(spark):
    """r10: linearRegression(startSourceAt, endSourceAt) — the OLS
    factor/offset come from the SOURCE window's series, the line is
    evaluated at the RENDER window's slots (graphite fits on the
    sourceContext fetch and projects over requestContext). Transcribed
    per series over random gappy source data; under-determined fits
    (n<2 or zero denominator) emit all-gap series, matching the
    established linearRegression pin convention."""
    from kenshin_backup_spark.operators import seriesfns as S

    rng = random.Random(101010)
    src_rows, src_series = _rand_gappy_cases(rng, 25, min_len=1, max_len=12)
    # render window: 20 slots starting at t=7200 (disjoint from source)
    ren_ts = [7200 + 60 * i for i in range(20)]
    ren_rows = [
        (m, t, float(rng.randint(-9, 9)))
        for m in src_series for t in ren_ts
    ]
    src_df = spark.createDataFrame(
        src_rows, "metric string, bucket_ts long, value double"
    )
    ren_df = spark.createDataFrame(
        ren_rows, "metric string, bucket_ts long, value double"
    )
    got = {
        (r["metric"], r["bucket_ts"]): r["value"]
        for r in S.linear_regression(ren_df, source_df=src_df).collect()
    }
    for m, vals in src_series.items():
        pts = [(i, v) for i, v in enumerate(vals) if v is not None]
        n = len(pts)
        den = (
            float(n * sum(i * i for i, _ in pts)
                  - sum(i for i, _ in pts) ** 2)
            if n >= 2 else 0.0
        )
        if n < 2 or den == 0:
            for t in ren_ts:
                assert got[(m, t)] is None, (m, t, vals)
            continue
        si = sum(i for i, _ in pts)
        sv = sum(v for _, v in pts)
        sii = sum(i * i for i, _ in pts)
        siv = sum(i * v for i, v in pts)
        factor = (n * siv - si * sv) / den / 60
        offset = (sii * sv - siv * si) / den - factor * 0
        for t in ren_ts:
            want = factor * t + offset
            g = got[(m, t)]
            assert g is not None and abs(g - want) < 1e-6, (m, t, vals)


def test_as_percent_nodes_matches_graphite_reference(spark):
    """r10: asPercent(series, total, *nodes) equals a pure-Python
    transcription of graphite's grouping form over random gappy
    series: aggKey = name nodes joined, group totals = safeSum of the
    key's members (or the key-matched, key-summed total list), percent
    = safeDiv(value, total)·100 with zero/absent totals gapping."""
    from kenshin_backup_spark.operators.seriesfns import as_percent_nodes

    rng = random.Random(80808)
    n_slots = 8
    keys = ["k0", "k1", "k2"]
    series = {}
    for g in keys:
        for j in range(rng.randint(1, 3)):
            series[f"{g}.m{j}"] = [
                None if rng.random() < 0.3 else float(rng.randint(-5, 9))
                for _ in range(n_slots)
            ]
    totals = {}
    for g in keys[:2]:  # k2 deliberately absent from the total list
        for j in range(rng.randint(1, 2)):
            totals[f"{g}.t{j}"] = [
                None if rng.random() < 0.3 else float(rng.randint(0, 9))
                for _ in range(n_slots)
            ]

    def frame(d):
        rows = [
            (m, 60 * i, v)
            for m, vals in d.items() for i, v in enumerate(vals)
        ]
        return spark.createDataFrame(
            rows, "metric string, bucket_ts long, value double"
        )

    def key(name):
        return name.split(".")[0]

    def ref(src_totals):
        # graphite: per (key, slot) total = safeSum; percent = safeDiv·100
        out = {}
        for m, vals in series.items():
            for i, v in enumerate(vals):
                members = [
                    sv[i] for sm, sv in src_totals.items()
                    if key(sm) == key(m) and sv[i] is not None
                ]
                tot = sum(members) if members else None
                out[(m, 60 * i)] = (
                    v / tot * 100.0
                    if v is not None and tot not in (None, 0) else None
                )
        return out

    # total=None: group sums of the input itself
    got = {
        (r["metric"], r["bucket_ts"]): r["value"]
        for r in as_percent_nodes(frame(series), [0]).collect()
    }
    want = ref(series)
    assert set(got) == set(want)
    for k2, w in want.items():
        g = got[k2]
        if w is None:
            assert g is None, k2
        else:
            assert g is not None and abs(g - w) < 1e-6, (k2, g, w)

    # explicit total list: key-matched, key-summed; k2 has no total →
    # all-gap output for its series
    got_t = {
        (r["metric"], r["bucket_ts"]): r["value"]
        for r in as_percent_nodes(
            frame(series), [0], total=frame(totals)
        ).collect()
    }
    want_t = ref(totals)
    assert set(got_t) == set(want_t)
    for k2, w in want_t.items():
        g = got_t[k2]
        if w is None:
            assert g is None, k2
        else:
            assert g is not None and abs(g - w) < 1e-6, (k2, g, w)
    assert all(
        got_t[(m, t)] is None
        for (m, t) in got_t if key(m) == "k2"
    )


def test_name_node_slices_match_python_indexing(spark):
    """r14 property pin: every name-node surface implements graphite's
    PYTHON indexing/slicing exactly — for random dotted names and every
    in-range node (positive and negative):

    - ``_node(n)`` == ``parts[n]`` (aliasByNode/groupByNode's selector);
    - applyByNode's prefix == ``'.'.join(parts[:n+1])``;
    - reduceSeries' group key == ``'.'.join(parts[:n])``;
    - substr(start, stop) == ``'.'.join(parts[start:stop])``.

    r15 (VERDICT r14 nano-nit): the prefix arms assert the SHARED
    ``python_slice_len`` helper that the render layer (applyByNode) and
    ``reduce_series`` now both call — no more mirrored expressions, so
    a future change to the engine arithmetic fails THIS sweep.

    A deterministic exhaustive sweep (not @given — one Spark job per
    case is the cost driver, so the grid is fixed and complete over
    depths 1..4 × all in-range nodes)."""
    from kenshin_backup_spark.operators.seriesfns import (
        _node,
        python_slice_len,
        substr_series,
    )

    names = ["a", "a.b", "a.b.c", "svc.cpu.load.p99"]
    rows = [(m, 0, 1.0) for m in names]
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    # _node(n) == parts[n] for every in-range n of every name
    for m in names:
        parts = m.split(".")
        for n in range(-len(parts), len(parts)):
            got = (
                df.where(F.col("metric") == m)
                .select(_node(n).alias("x"))
                .collect()[0]["x"]
            )
            assert got == parts[n], (m, n, got)

    # applyByNode prefix == parts[:n+1] — THE engine helper, not a mirror
    for m in names:
        parts = F.split(F.lit(m), r"\.")
        py = m.split(".")
        for n in range(-len(py) - 1, len(py)):
            got = spark.range(1).select(
                F.array_join(
                    F.slice(parts, 1, python_slice_len(parts, n + 1)), "."
                ).alias("p")
            ).collect()[0]["p"]
            assert got == ".".join(py[: n + 1]), (m, n, got)

    # reduceSeries group key == parts[:n] — same shared helper
    for m in names:
        parts = F.split(F.lit(m), r"\.")
        py = m.split(".")
        for n in range(-len(py), len(py) + 1):
            got = spark.range(1).select(
                F.array_join(
                    F.slice(parts, 1, python_slice_len(parts, n)), "."
                ).alias("p")
            ).collect()[0]["p"]
            assert got == ".".join(py[:n]), (m, n, got)

    # substr == python slice for every (start, stop) pair incl. stop=0
    m = "svc.cpu.load.p99"
    py = m.split(".")
    sub = df.where(F.col("metric") == m)
    for start in range(-4, 4):
        for stop in range(-4, 5):
            got = substr_series(sub, start, stop).select(
                "metric"
            ).collect()[0]["metric"]
            want = ".".join(py[start:] if stop == 0 else py[start:stop])
            assert got == want, (start, stop, got, want)
