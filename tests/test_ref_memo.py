"""$ref compile memoization (applicators._compile_referent).

The memo replays a completed referent expansion when the same referent
is re-resolved against the same bound expression — the common shape in
real-world schemas where several composition routes reach one shared
definition (the issue232 Swagger meta-schema re-expands 38% of its
$refs verbatim).  These tests pin the three properties the replay must
preserve:

1. verdicts and violation content are identical to the unmemoized
   expansion (both occurrences still report);
2. schema paths are rebased to each call site's prefix — the reference
   keeps the call-site path through $ref without inserting a "$ref"
   fragment (validators.py:392-393);
3. snapshot isolation: callers mutate returned checks in place
   (oneOf/anyOf context rewiring, if/then conditioning), and a later
   replay must see the pristine compile, not the first caller's
   mutations.
"""

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import CompiledValidator
from jsonschema_spark.operators.bestmatch import best_match, best_match_deep


def _mkdf(spark):
    return spark.createDataFrame(
        [(0, 1), (1, 7), (2, None)], "_i int, x int")


def test_same_ref_twice_same_binding_reports_both_routes(spark):
    # two allOf routes -> same definition at the same instance binding:
    # the second expansion is a memo replay and must still produce its
    # own violation row under its own schema-path prefix.
    schema = {
        "$defs": {"pos": {"minimum": 5}},
        "properties": {"x": {"allOf": [{"$ref": "#/$defs/pos"},
                                       {"$ref": "#/$defs/pos"}]}},
    }
    df = _mkdf(spark)
    v = CompiledValidator(schema, df)
    rows = v.violations(df, id_cols=["_i"]).collect()
    got = sorted((r["_i"], r["schema_path"]) for r in rows)
    assert got == [
        (0, "properties/x/allOf/0/minimum"),
        (0, "properties/x/allOf/1/minimum"),
    ]
    flags = [r["valid"] for r in
             v.with_valid(df).orderBy("_i").select("valid").collect()]
    assert flags == [False, True, True]


def test_memo_replay_matches_fresh_compile_verdicts(spark):
    # indirect duplication: A and B both $ref C — C expands twice at
    # $.x via different routes/prefixes.
    schema = {
        "$defs": {
            "c": {"type": "integer", "minimum": 2, "multipleOf": 3},
            "a": {"allOf": [{"$ref": "#/$defs/c"}]},
            "b": {"anyOf": [{"$ref": "#/$defs/c"}, {"maximum": 0}]},
        },
        "properties": {"x": {"allOf": [{"$ref": "#/$defs/a"},
                                       {"$ref": "#/$defs/b"}]}},
    }
    inline = {
        "properties": {"x": {"allOf": [
            {"allOf": [{"type": "integer", "minimum": 2, "multipleOf": 3}]},
            {"anyOf": [{"type": "integer", "minimum": 2, "multipleOf": 3},
                       {"maximum": 0}]},
        ]}},
    }
    df = spark.createDataFrame(
        [(0, 0), (1, 3), (2, 6), (3, 7), (4, None)], "_i int, x int")
    va = CompiledValidator(schema, df)
    vb = CompiledValidator(inline, df)
    fa = [r["valid"] for r in
          va.with_valid(df).orderBy("_i").select("valid").collect()]
    fb = [r["valid"] for r in
          vb.with_valid(df).orderBy("_i").select("valid").collect()]
    assert fa == fb == [False, True, True, False, True]
    # the replayed checks carry the deferred message / failing value /
    # type_match builders of the first expansion: every violation field
    # and the best_match choices must equal the inlined compile's
    fields = ["_i", "keyword", "json_path", "schema_path", "message",
              "failing_value"]

    def rows(frame, *extra):
        return sorted(map(tuple, frame.select(*fields, *extra).collect()),
                      key=repr)

    def both(call, *extra):
        return [rows(call(v), *extra) for v in (va, vb)]

    got, want = both(lambda v: v.violations_with_context(df, ["_i"]),
                     "type_match", "context_of")
    assert got == want
    assert (3, "multipleOf", "7 is not a multiple of 3", "7", True) in {
        (r[0], r[1], r[4], r[5], r[6]) for r in got}
    got, want = both(lambda v: best_match(v.violations(df, ["_i"]), ["_i"]),
                     "type_match")
    assert got == want
    got, want = both(lambda v: best_match_deep(
        v.violations_with_context(df, ["_i"]), ["_i"]))
    assert got == want


def test_memo_snapshot_isolated_from_caller_mutation(spark):
    # first route: oneOf context rewiring mutates the returned checks'
    # pred / context_of in place.  second route (plain $ref) must get a
    # clean replay — if the snapshot aliased the mutated originals, the
    # direct route's check would be OR-weakened by the oneOf composite
    # and row 0 would wrongly pass.
    schema = {
        "$defs": {"big": {"minimum": 100}},
        "properties": {"x": {
            "oneOf": [{"$ref": "#/$defs/big"}, {"maximum": 3}],
            "$ref": "#/$defs/big",
        }},
    }
    df = spark.createDataFrame([(0, 1), (1, 150)], "_i int, x int")
    v = CompiledValidator(schema, df)
    flags = [r["valid"] for r in
             v.with_valid(df).orderBy("_i").select("valid").collect()]
    # x=1: oneOf ok (maximum 3) but direct $ref minimum-100 fails
    # x=150: oneOf ok (minimum 100) and direct $ref ok
    assert flags == [False, True]
    rows = v.violations(df, id_cols=["_i"]).collect()
    assert [(r["_i"], r["schema_path"], r["keyword"]) for r in rows] == [
        (0, "properties/x/minimum", "minimum")]


def test_memo_does_not_cross_lambda_scopes(spark):
    # the same referent bound inside two DIFFERENT array-element lambda
    # scopes: targets are distinct lambda variables, so the memo must
    # not share Columns across them (a wrong reuse fails analysis with
    # an unresolved x_N — this test proves both arrays validate).
    # strongest collision shape: same referent, same json_path, two
    # separate `items` lambdas over the SAME array (allOf routes).
    schema = {
        "$defs": {"small": {"maximum": 5}},
        "properties": {
            "a": {"allOf": [{"items": {"$ref": "#/$defs/small"}},
                            {"items": {"$ref": "#/$defs/small"}}]},
            "b": {"items": {"$ref": "#/$defs/small"}},
        },
    }
    df = spark.createDataFrame(
        [(0, [1, 2], [3]), (1, [9], [1]), (2, [1], [8])],
        "_i int, a array<int>, b array<int>")
    v = CompiledValidator(schema, df)
    flags = [r["valid"] for r in
             v.with_valid(df).orderBy("_i").select("valid").collect()]
    assert flags == [True, False, False]


def test_memo_hits_are_real(spark):
    # whitebox: the diamond above must actually exercise the memo
    # (guards against the key silently never matching).
    from jsonschema_spark.compiler import applicators as ap

    calls = {"n": 0}
    orig = ap._memo_replay

    def spy(ctx, entry):
        calls["n"] += 1
        return orig(ctx, entry)

    ap._memo_replay = spy
    try:
        schema = {
            "$defs": {"pos": {"minimum": 5}},
            "properties": {"x": {"allOf": [{"$ref": "#/$defs/pos"},
                                           {"$ref": "#/$defs/pos"}]}},
        }
        df = _mkdf(spark)
        CompiledValidator(schema, df)
    finally:
        ap._memo_replay = orig
    assert calls["n"] >= 1
