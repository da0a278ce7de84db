"""Degenerate-input regression tests for the r9-advice edge cases —
both engines must agree on corpora the driver's testdata never
produces (the fixes are invisible at every shipped SF, so these tests
construct the degenerate inputs directly)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _write_documents(spark, path: str, texts: list[str]) -> None:
    spark.createDataFrame(
        [
            (i, t, "en", "synthetic", len(t))
            for i, t in enumerate(texts)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_good_turing_no_singletons_yields_null_missing_mass(spark, tmp_path):
    """A corpus where every 5-gram occurs >= 2 times has an EMPTY N_1
    row. The oracle's scalar subquery returns NULL missing_mass for
    every rank; the Spark side must do the same — the pre-fix filtered
    cross-join instead erased the whole result frame (0 rows vs the
    oracle's r<=5 rows)."""
    from smartpool_bigdata_spark.queries import REGISTRY

    sf_dir = str(tmp_path / "degenerate")
    # two identical documents: every 5-gram count is exactly 2
    text = "alpha beta gamma delta epsilon zeta eta theta"
    _write_documents(spark, f"{sf_dir}/documents.parquet", [text, text])

    out = REGISTRY["vocab_good_turing"].build(spark, sf_dir).collect()
    assert len(out) == 1  # one rank row (r=2), not an empty frame
    row = out[0]
    assert row["r"] == 2 and row["n_r"] == 4
    assert row["missing_mass"] is None  # NULL, matching the oracle
    # and the same corpus through DuckDB's oracle text agrees
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle_rows = con.execute(REGISTRY["vocab_good_turing"].oracle).fetchall()
    assert len(oracle_rows) == 1
    assert oracle_rows[0][4] is None  # missing_mass column


def test_good_turing_with_singletons_unchanged(spark, tmp_path):
    """Sanity twin: one unique doc + one duplicated doc keeps a real
    singleton tail, and missing_mass is the N_1/N ratio as before."""
    from smartpool_bigdata_spark.queries import REGISTRY

    sf_dir = str(tmp_path / "mixed")
    dup = "alpha beta gamma delta epsilon zeta"
    uniq = "one two three four five six seven"
    _write_documents(spark, f"{sf_dir}/documents.parquet", [dup, dup, uniq])

    rows = {
        r["r"]: r
        for r in REGISTRY["vocab_good_turing"].build(spark, sf_dir).collect()
    }
    # the unique doc contributes 3 singleton 5-grams; 7 grams total
    assert rows[1]["n_r"] == 3
    assert rows[1]["missing_mass"] == pytest.approx(3 / 7, abs=1e-6)


def test_conformal_fit_empty_calibration_raises(spark, tmp_path):
    """An orders table whose keys never land in hash buckets 6-7 has an
    empty calibration split; the fit must fail with the explicit
    ValueError, not an IndexError from hist[-1]."""
    from smartpool_bigdata_spark.queries import _conformal_fit

    sf_dir = str(tmp_path / "nocal")
    spark.createDataFrame(
        # keys 0..5 and 8..9 mod 10: buckets 6 and 7 empty
        [(k, "1-URGENT", 100.0 + k) for k in range(60) if k % 10 not in (6, 7)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/orders.parquet")

    with pytest.raises(ValueError, match="calibration split is empty"):
        _conformal_fit(spark, sf_dir)


@pytest.mark.parametrize(
    "op, edge_list, schemas",
    [
        ("pagerank", [], [[("node", "bigint"), ("rank", "double")]]),
        ("pagerank", [(1, 1), (2, 2)], [[("node", "bigint"), ("rank", "double")]]),
        (
            "hits",
            [],
            [[("node", "bigint"), ("hub", "double")],
             [("node", "bigint"), ("auth", "double")]],
        ),
    ],
    ids=["pagerank-no-edges", "pagerank-self-loops-only", "hits-no-edges"],
)
def test_rank_ops_on_edgeless_graph_return_empty(spark, op, edge_list, schemas):
    """A graph with no edges (or, after pagerank's self-loop drop, none
    left) has no node to rank: the operator returns empty frames with
    its documented schema, like kcore and connected_components do,
    instead of dividing by a zero node count."""
    from smartpool_bigdata_spark.ops import graph

    edges = spark.createDataFrame(edge_list, "src bigint, dst bigint")
    out = getattr(graph, op)(edges)
    frames = list(out) if isinstance(out, tuple) else [out]
    assert [f.dtypes for f in frames] == schemas
    assert all(f.isEmpty() for f in frames)
