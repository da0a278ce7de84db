"""Unit tests for ops.relational on tiny literal DataFrames — semantics
pinned independently of the testdata (tie-breaks, collision guards,
pivot defaults, window flattening)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from smartpool_bigdata_spark.ops import (
    case_when_chain,
    conditional_pivot,
    dedupe_exact,
    duplicate_keys,
    latest_by_key,
    map_lookup,
    orphan_rows,
    range_flags,
    top_n_per_group,
    tumbling_agg,
)


def _versions(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10),
            (1, "b", 20),
            (1, "c", 20),  # tie on version → id tie-break
            (2, "x", 5),
        ],
        ["key", "payload", "version"],
    )


def test_latest_by_key_tie_break(spark):
    out = latest_by_key(
        _versions(spark),
        keys=["key"],
        order_by=[F.col("version").desc(), F.col("payload").desc()],
    )
    rows = {r["key"]: r["payload"] for r in out.collect()}
    assert rows == {1: "c", 2: "x"}


def test_latest_by_key_helper_collision(spark):
    df = _versions(spark).withColumn("__rn", F.lit(99))
    out = latest_by_key(df, keys=["key"], order_by=[F.col("version").desc()])
    assert "__rn" in out.columns  # user column survives
    assert out.filter(F.col("__rn") != 99).count() == 0


def test_top_n_row_number_vs_dense_rank(spark):
    df = spark.createDataFrame(
        [("g", 3, 1), ("g", 3, 2), ("g", 2, 3), ("g", 1, 4)],
        ["grp", "score", "id"],
    )
    rn = top_n_per_group(
        df, ["grp"], [F.col("score").desc(), F.col("id").asc()], n=2,
        method="row_number",
    )
    assert rn.count() == 2  # exactly N
    dr = top_n_per_group(
        df, ["grp"], [F.col("score").desc()], n=2, method="dense_rank",
        rank_col="rk",
    )
    # dense_rank: both score-3 rows share rank 1, score-2 row is rank 2 → 3 rows
    assert dr.count() == 3
    assert dr.schema["rk"].dataType.simpleString() == "int"


def test_conditional_pivot_counts_and_values(spark):
    df = spark.createDataFrame(
        [("k", "A", 1.0), ("k", "A", 2.0), ("k", "B", 10.0)],
        ["key", "kind", "amt"],
    )
    counts = conditional_pivot(df, ["key"], "kind", ["A", "B", "C"]).collect()[0]
    assert (counts["A_count"], counts["B_count"], counts["C_count"]) == (2, 1, 0)
    sums = conditional_pivot(
        df, ["key"], "kind", ["A", "B"], agg_expr=F.col("amt")
    ).collect()[0]
    assert (sums["A_count"], sums["B_count"]) == (3.0, 10.0)


def test_map_lookup_default(spark):
    df = spark.createDataFrame([("x",), ("y",), ("zzz",)], ["k"])
    out = df.select(map_lookup({"x": 1.0, "y": 2.0}, F.col("k"), default=-1.0).alias("v"))
    assert [r["v"] for r in out.collect()] == [1.0, 2.0, -1.0]


def test_case_when_chain_order(spark):
    df = spark.createDataFrame([(5,), (15,), (50,)], ["n"])
    col = case_when_chain(
        [(F.col("n") < 10, "small"), (F.col("n") < 20, "mid")], default="big"
    )
    assert [r[0] for r in df.select(col).collect()] == ["small", "mid", "big"]


def test_range_flags(spark):
    df = spark.createDataFrame([(7.0, 50.0), (15.0, -1.0)], ["ph", "pct"])
    out = range_flags(df, {"ph": (0.0, 14.0), "pct": (0.0, 100.0)})
    rows = out.collect()
    assert (rows[0]["ph_in_range"], rows[0]["pct_in_range"]) == (True, True)
    assert (rows[1]["ph_in_range"], rows[1]["pct_in_range"]) == (False, False)


def test_dedupe_and_duplicate_keys(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["k", "v"])
    assert dedupe_exact(df, ["k"]).count() == 2
    dups = duplicate_keys(df, ["k"]).collect()
    assert len(dups) == 1 and dups[0]["k"] == 1 and dups[0]["dup_count"] == 2


def test_orphan_rows(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,)], ["fk"])
    dim = spark.createDataFrame([(1,), (2,)], ["pk"])
    orphans = orphan_rows(fact, dim, "fk", "pk")
    assert [r["fk"] for r in orphans.collect()] == [9]


def test_tumbling_agg_flattens_window(spark):
    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0, 0, 30), "a", 1.0),
            (datetime(2024, 1, 1, 0, 0, 45), "a", 3.0),
            (datetime(2024, 1, 1, 0, 1, 10), "a", 5.0),
        ],
        ["ts", "k", "v"],
    )
    out = tumbling_agg(
        df, "ts", "1 minute", ["k"],
        {"n": F.count(F.lit(1)), "avg_v": F.avg("v")},
    )
    assert set(out.columns) == {"window_start", "window_end", "k", "n", "avg_v"}
    rows = {r["window_start"]: r for r in out.collect()}
    first = rows[datetime(2024, 1, 1, 0, 0)]
    assert first["n"] == 2 and first["avg_v"] == 2.0


def test_top_n_two_phase_equivalence(spark):
    """low_cardinality=True (salted local top-N then global window) must
    produce identical results to the single-phase plan for every rank
    method, including tie behavior across partition boundaries."""
    import random

    rng = random.Random(7)
    rows = [(f"g{i % 3}", rng.randrange(50), i) for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "v", "id"]).repartition(16)
    order = [F.col("v").desc(), F.col("id").asc()]
    for method in ("row_number", "dense_rank", "rank"):
        one = top_n_per_group(df, ["k"], order, 5, method=method, rank_col="r")
        two = top_n_per_group(
            df, ["k"], order, 5, method=method, rank_col="r", low_cardinality=True
        )
        a = sorted(tuple(r) for r in one.collect())
        b = sorted(tuple(r) for r in two.collect())
        assert a == b, f"two-phase mismatch for {method}"


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row with ts <= left ts per key;
    inclusive at equal ts; NULL before the first right row."""
    left = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 0, 0), 1),
            ("a", datetime(2024, 1, 1, 1, 0), 2),
            ("a", datetime(2024, 1, 1, 2, 30), 3),
            ("b", datetime(2024, 1, 1, 5, 0), 4),
        ],
        ["k", "ts", "id"],
    )
    right = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 1, 0), 10.0),  # equal-ts: visible to id=2
            ("a", datetime(2024, 1, 1, 2, 0), 20.0),
            ("b", datetime(2024, 1, 1, 9, 0), 99.0),  # after left row -> unseen
        ],
        ["k", "rts", "price"],
    )
    from smartpool_bigdata_spark.ops.relational import asof_join

    out = {
        r["id"]: r["price"]
        for r in asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="rts",
            value_cols=["price"],
        ).collect()
    }
    assert out == {1: None, 2: 10.0, 3: 20.0, 4: None}


def test_salted_agg_equals_plain(spark):
    """Salted two-stage aggregate == plain aggregate, including EXACT
    count-distinct when salting on the distinct argument."""
    import random

    rng = random.Random(11)
    rows = [("hot" if i % 10 else f"cold{i%3}", rng.randrange(40), float(i % 7))
            for i in range(3000)]
    df = spark.createDataFrame(rows, ["k", "uid", "v"]).repartition(8)
    from smartpool_bigdata_spark.ops.relational import salted_agg

    got = {
        r["k"]: (r["n"], r["nd"], round(r["sv"], 3))
        for r in salted_agg(
            df, ["k"],
            {"n": (F.count(F.lit(1)), F.sum),
             "nd": (F.countDistinct("uid"), F.sum),
             "sv": (F.sum("v"), F.sum)},
            salt_buckets=16,
            salt_cols=["uid"],
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["nd"], round(r["sv"], 3))
        for r in df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("uid").alias("nd"),
            F.sum("v").alias("sv"),
        ).collect()
    }
    assert got == want


def test_native_session_window_boundary_semantics(spark):
    """Pin the convention the user_session_windows oracle encodes: events
    exactly `gap` apart MERGE (Spark merges on touch, not just overlap);
    a new session opens only when the gap is strictly exceeded; window
    end = last event + gap."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:30:00"),          # exactly 30 min -> merges
            (1, "2024-01-01 11:00:00.000001"),   # 30 min + 1 us -> new
        ],
        ["uid", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sorted(
        (r["s"].isoformat(), r["e"].isoformat(), r["n"])
        for r in df.groupBy("uid", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
        .collect()
    )
    assert out == [
        ("2024-01-01T10:00:00", "2024-01-01T11:00:00", 2),
        ("2024-01-01T11:00:00.000001", "2024-01-01T11:30:00.000001", 1),
    ]


def test_salted_join_equals_plain(spark):
    """salted_join must be an exact rewrite of the unsalted join — every
    (left, right) pair meets in exactly one salt bucket — for inner AND
    left joins, including unmatched left rows and a pathological hot key."""
    from smartpool_bigdata_spark.ops import salted_join

    left = spark.createDataFrame(
        [(1, i) for i in range(500)]          # hot key: 500 rows on k=1
        + [(2, 900), (3, 901), (7, 902)],     # 7 has no match on the right
        ["k", "payload"],
    )
    right = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "tag"]
    )

    from collections import Counter

    for how in ("inner", "left"):
        # Counter, not set: replicated-pair bugs (each pair emitted once
        # per salt bucket) are exactly what a set compare would hide
        plain = Counter(
            tuple(r) for r in left.join(right, ["k"], how).collect()
        )
        salted = Counter(
            tuple(r)
            for r in salted_join(
                left, right, on=["k"], salt_buckets=8, how=how
            ).collect()
        )
        assert salted == plain, how
        if how == "left":
            assert salted[(7, 902, None)] == 1  # unmatched row exactly once

    # the rewrite is NOT an equivalence for right/full/anti joins — must
    # refuse instead of returning corrupt data
    import pytest as _pytest

    for bad in ("right", "full_outer", "left_anti"):
        with _pytest.raises(ValueError):
            salted_join(left, right, on=["k"], how=bad)

    # a salt-name collision on the OTHER side must not clobber its column
    right_clash = right.withColumn("__salt", F.col("k") * 100)
    got = salted_join(left.filter("k = 2"), right_clash, on=["k"]).collect()
    assert got and all(r["__salt"] == 200 for r in got)

    # the adversarial cross-collision: skewed carries '__salt_' while
    # other carries '__salt'. Resolving the helper name against skewed
    # first ('__salt' is free there) and then extending past other's
    # '__salt' lands exactly on skewed's real '__salt_' column — the
    # silent-data-loss case ADVICE.md flagged. Both columns must survive.
    left_clash = left.filter("k = 2").withColumn("__salt_", F.col("k") * 7)
    got = salted_join(left_clash, right_clash, on=["k"]).collect()
    assert got and all(r["__salt_"] == 14 and r["__salt"] == 200 for r in got)


def test_global_running_sum_equals_window(spark):
    """The two-phase distributed prefix sum (range shuffle -> per-range
    parallel window -> broadcast offsets) must equal the naive
    single-task-per-group window form exactly — grouped and ungrouped,
    and regardless of how many range partitions the data lands in."""
    from pyspark.sql import Window
    from smartpool_bigdata_spark.ops.relational import global_running_sum

    df = (
        spark.range(5000)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("grp"),
            F.xxhash64(F.col("id").cast("string")).alias("ord"),
            ((F.col("id") * 37) % 101).alias("v"),
        )
        .repartition(13)  # scrambled input partitioning
    )
    naive = df.withColumn(
        "running_sum",
        F.sum("v").over(
            Window.partitionBy("grp")
            .orderBy("ord", "id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    want = {(r["id"], r["running_sum"]) for r in naive.collect()}
    for nparts in (None, 3, 64):
        got = {
            (r["id"], r["running_sum"])
            for r in global_running_sum(
                df,
                order_by=["ord", "id"],
                value_col="v",
                partition_cols=["grp"],
                num_range_partitions=nparts,
            ).collect()
        }
        assert got == want, f"nparts={nparts}"
    # ungrouped global cumsum too
    naive_g = df.withColumn(
        "running_sum",
        F.sum("v").over(
            Window.orderBy("ord", "id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    want_g = {(r["id"], r["running_sum"]) for r in naive_g.collect()}
    got_g = {
        (r["id"], r["running_sum"])
        for r in global_running_sum(
            df, order_by=["ord", "id"], value_col="v", num_range_partitions=8
        ).collect()
    }
    assert got_g == want_g


def test_interval_point_join_matches_theta_join(spark):
    """Bucketized range join == naive theta join, each matching pair
    exactly once, for bucket widths smaller, equal, and larger than the
    interval lengths; half-open [start, end) boundaries pinned."""
    import random

    from smartpool_bigdata_spark.ops.relational import interval_point_join

    rng = random.Random(7)
    base = datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [
            (i, datetime(2024, 1, 1 + rng.randrange(5), rng.randrange(24),
                         rng.randrange(60)))
            for i in range(300)
        ],
        ["pid", "ts"],
    )
    intervals = spark.createDataFrame(
        [
            (
                j,
                datetime(2024, 1, 1 + rng.randrange(5), rng.randrange(24)),
                rng.randrange(1, 30),
            )
            for j in range(40)
        ],
        ["iid", "s", "hours"],
    ).select(
        "iid", "s", F.expr("s + make_interval(0,0,0,0,hours,0,0)").alias("e")
    )
    naive = {
        (r["pid"], r["iid"])
        for r in points.crossJoin(intervals)
        .where((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
        .collect()
    }
    for bucket in ["30 minutes", "4 hours", "2 days"]:
        got = [
            (r["pid"], r["iid"])
            for r in interval_point_join(
                points, intervals, "ts", "s", "e", bucket=bucket
            ).collect()
        ]
        assert len(got) == len(set(got)), f"duplicate pairs at {bucket}"
        assert set(got) == naive, f"pair mismatch at {bucket}"
    assert naive, "fixture degenerate: no overlapping pairs"


def test_interval_point_join_boundaries_keys_and_left(spark):
    """Half-open semantics at exact bucket edges, per-key isolation, and
    left_point mode keeping unmatched points exactly once."""
    from smartpool_bigdata_spark.ops.relational import interval_point_join

    points = spark.createDataFrame(
        [
            ("a", 1, datetime(2024, 1, 2, 0, 0)),   # == start -> in
            ("a", 2, datetime(2024, 1, 3, 0, 0)),   # == end -> out
            ("b", 3, datetime(2024, 1, 2, 12, 0)),  # right key b -> in
            ("a", 4, datetime(2024, 1, 9, 0, 0)),   # no window -> out
        ],
        ["k", "pid", "ts"],
    )
    intervals = spark.createDataFrame(
        [
            ("a", 10, datetime(2024, 1, 2), datetime(2024, 1, 3)),
            ("b", 11, datetime(2024, 1, 2), datetime(2024, 1, 3)),
        ],
        ["k", "iid", "s", "e"],
    )
    inner = {
        (r["pid"], r["iid"])
        for r in interval_point_join(
            points, intervals, "ts", "s", "e", keys=["k"], bucket="1 day"
        ).collect()
    }
    assert inner == {(1, 10), (3, 11)}
    left = [
        (r["pid"], r["iid"])
        for r in interval_point_join(
            points, intervals, "ts", "s", "e", keys=["k"], bucket="1 day",
            how="left_point",
        ).collect()
    ]
    assert sorted(left) == [(1, 10), (2, None), (3, 11), (4, None)]


def test_interval_micros_is_timezone_free():
    """The bucket width is parsed driver-side into fixed microseconds —
    no session-timezone dependence, calendar units rejected loudly."""
    import pytest

    from smartpool_bigdata_spark.ops.relational import _interval_micros

    assert _interval_micros("1 day") == 86_400_000_000
    assert _interval_micros("6 hours 30 minutes") == 23_400_000_000
    assert _interval_micros("2 weeks") == 14 * 86_400_000_000
    assert _interval_micros("250 milliseconds") == 250_000
    with pytest.raises(ValueError):
        _interval_micros("1 month")  # calendar unit: not fixed-width
    with pytest.raises(ValueError):
        _interval_micros("0 hours")  # non-positive width


def test_interval_point_join_drops_reversed_intervals(spark):
    """A malformed end <= start interval matches nothing AND never
    reaches F.sequence (where stop < start would generate a descending
    replica explosion before the residual filter)."""
    from smartpool_bigdata_spark.ops.relational import interval_point_join

    points = spark.createDataFrame(
        [(1, datetime(2024, 1, 2, 12, 0))], ["pid", "ts"]
    )
    intervals = spark.createDataFrame(
        [
            # reversed by a year: would explode to ~365 descending buckets
            (10, datetime(2025, 1, 1), datetime(2024, 1, 1)),
            # zero-length: half-open [s, s) is empty
            (11, datetime(2024, 1, 2, 12, 0), datetime(2024, 1, 2, 12, 0)),
            (12, datetime(2024, 1, 2), datetime(2024, 1, 3)),  # valid
        ],
        ["iid", "s", "e"],
    )
    got = [
        (r["pid"], r["iid"])
        for r in interval_point_join(
            points, intervals, "ts", "s", "e", bucket="1 day"
        ).collect()
    ]
    assert got == [(1, 12)]


def test_hits_rejects_zero_iterations(spark):
    from smartpool_bigdata_spark.ops.graph import hits

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="iterations >= 1"):
        hits(edges, iterations=0)


def test_connected_components_raises_when_not_converged(spark):
    """A 10-node chain needs 10 HashMin supersteps; with a budget of 3
    the operator must raise rather than return partial labels."""
    from smartpool_bigdata_spark.ops.graph import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(9)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge in 3 iterations"):
        connected_components(chain, max_iterations=3)


@pytest.mark.parametrize(
    "op", ["pagerank", "label_propagation", "temporal_reachability", "kcore"]
)
def test_superstep_state_is_lineage_cut(spark, op):
    """Every superstep's state is cut with a localCheckpoint, so the
    returned frame's analyzed plan holds as many Join nodes after 4
    supersteps as after 1; a step that skipped the cut would add its
    joins once per superstep."""
    from smartpool_bigdata_spark.ops import graph
    from smartpool_bigdata_spark.plans import walk_plan

    edges = spark.createDataFrame(
        [(1, 2, "2024-01-01"), (2, 3, "2024-01-02"), (3, 1, "2024-01-03"),
         (3, 4, "2024-01-04")],
        "src long, dst long, ts string",
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    run = {
        "pagerank": lambda n: graph.pagerank(edges, iterations=n),
        "label_propagation": lambda n: graph.label_propagation(
            edges, iterations=n
        ),
        "temporal_reachability": lambda n: graph.temporal_reachability(
            edges, seeds, iterations=n
        ),
        "kcore": lambda n: graph.kcore(edges, k=2, rounds=n),
    }[op]

    def joins(df) -> int:
        names = []
        walk_plan(
            df._jdf.queryExecution().analyzed(),
            lambda node: names.append(node.nodeName()),
        )
        return names.count("Join")

    assert joins(run(1)) == joins(run(4))
