"""Connected components + duplicate-cluster resolution.

Certification strategy: the Spark large-star/small-star implementation is
compared against a local union-find on deterministic random graphs that
include the shapes that break naive approaches — long chains (diameter =
n, where label propagation needs n rounds), cliques, overlapping pair
sources, string ids, and an empty edge list.
"""

import random

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.clusters import (
    connected_components,
    duplicate_clusters,
    resolve_duplicates,
)


class _UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)

    def components(self):
        """{node: min id of its component}"""
        roots = {x: self.find(x) for x in self.p}
        mins = {}
        for x, r in roots.items():
            mins[r] = min(mins.get(r, x), x)
        return {x: mins[r] for x, r in roots.items()}


def _spark_cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df, **kw)
    return {r["id"]: r["component"] for r in got.collect()}


def _expected(edges):
    uf = _UnionFind()
    for a, b in edges:
        uf.union(a, b)
    return uf.components()


PATHS = [{"small_graph_threshold": 0},   # distributed large-star/small-star
         {}]                              # driver union-find fast path


@pytest.mark.parametrize("kw", PATHS)
def test_cc_chain(spark, kw):
    # Diameter-n chain: the shape that defeats O(diameter) propagation.
    edges = [(i, i + 1) for i in range(60)]
    assert _spark_cc(spark, edges, **kw) == _expected(edges)


def test_cc_chain_reversed_and_shuffled(spark):
    rng = random.Random(7)
    edges = [(i + 1, i) for i in range(40)]
    rng.shuffle(edges)
    assert _spark_cc(spark, edges) == _expected(edges)


@pytest.mark.parametrize("kw", PATHS)
def test_cc_random_graphs(spark, kw):
    rng = random.Random(1234)
    for trial in range(4):
        n = 120
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
        edges = [e for e in edges if e[0] != e[1]]
        assert _spark_cc(spark, edges, **kw) == _expected(edges), \
            f"trial {trial}"


@pytest.mark.parametrize("kw", PATHS)
def test_cc_cliques_and_singletons(spark, kw):
    edges = ([(a, b) for a in range(5) for b in range(a + 1, 5)]
             + [(100, 101)] + [(200, 201), (201, 202), (200, 202)])
    assert _spark_cc(spark, edges, **kw) == _expected(edges)


def test_cc_string_ids(spark):
    df = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "src string, dst string")
    for kw in PATHS:
        got = {r["id"]: r["component"] for r in
               connected_components(df, **kw).collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_small_graph_result_is_a_local_scan(spark):
    """The union-find path (an empty graph included) returns an
    Arrow-backed local frame of the edges' id type: a LocalTableScan,
    not a Python RDD."""
    for ddl, edges, want in (
            ("src long, dst long", [(1, 2), (3, 2)], {1: 1, 2: 1, 3: 1}),
            ("src string, dst string", [], {})):
        df = spark.createDataFrame(edges, ddl)
        got = connected_components(df)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert [f.dataType for f in got.schema] == \
            [df.schema["src"].dataType] * 2
        assert {r["id"]: r["component"] for r in got.collect()} == want


def test_cc_duplicate_and_self_edges_ignored(spark):
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3)]
    got = _spark_cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_nonconvergence_guard(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(20)],
                               "src long, dst long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df, max_iterations=1,
                             small_graph_threshold=0)


def test_duplicate_clusters_columns(spark):
    pairs = spark.createDataFrame([(10, 20), (20, 30)],
                                  "id_a long, id_b long")
    got = duplicate_clusters(pairs)
    assert got.columns == ["id", "cluster_id"]
    assert {r["cluster_id"] for r in got.collect()} == {10}


def test_resolve_duplicates_default_min_id(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_a long, id_b long")
    out = resolve_duplicates(docs, pairs, "doc_id")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in out.collect()}
    # cluster {1,3,5} -> survivor 1; everything else its own singleton
    assert rows == {0: (0, True), 1: (1, True), 2: (2, True),
                    3: (1, False), 4: (4, True), 5: (1, False)}
    assert out.filter("is_canonical").count() == 4


def test_resolve_duplicates_prefer_column(spark):
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5)], "doc_id long, quality double")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = resolve_duplicates(docs, pairs, "doc_id",
                             prefer=-F.col("quality"))
    survivor = [r["doc_id"] for r in out.filter("is_canonical").collect()]
    assert survivor == [2]  # highest quality wins
