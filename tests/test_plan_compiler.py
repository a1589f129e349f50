"""Compiled transformer vs interpreter equivalence for action
pipelines (the two execution paths must agree on the wire, transform
error flag included)."""

from __future__ import annotations

import json
from functools import reduce

import pytest
from pyspark.sql import DataFrame, functions as F

from vanus_spark.plans import CompileFallback, compile_transformer
from vanus_spark.subscription import Subscription
from vanus_spark.transformer import transform_dataframe

DATA_SCHEMA = "user_id long, value double, props struct<k: int>"
# nil payloads (NULL, blank, JSON null) run the compiled nil-branch
# chain; "{bad" is malformed -> transform_error on both paths
NIL_AND_MALFORMED = [None, "", "null", "{bad"]


def _parse(rows):
    def load(data):
        try:
            return json.loads(data)
        except (TypeError, ValueError):
            return data

    return {r.id: (load(r.data), r.transform_error) for r in rows}


def _run_both(df, pipeline, schema):
    spec = {"pipeline": pipeline}
    compiled = compile_transformer(spec, schema)(df)
    interp = transform_dataframe(df, spec)
    return _parse(compiled.collect()), _parse(interp.collect())


def both_paths(cloudevents, pipeline):
    df = cloudevents.limit(300)
    one = cloudevents.limit(1)
    extra = [
        one.withColumn("id", F.lit(f"nil{i}")).withColumn("data", F.lit(d).cast("string"))
        for i, d in enumerate(NIL_AND_MALFORMED)
    ]
    return _run_both(reduce(DataFrame.unionByName, extra, df), pipeline, DATA_SCHEMA)


@pytest.mark.parametrize(
    "pipeline",
    [
        [["MATH_MUL", "$.data.value", "$.data.value", 100]],
        [["MATH_ADD", "$.data.total", "$.data.value", "$.data.props.k", 1]],
        [["MATH_DIV", "$.data.r", "$.data.value", "$.data.props.k"]],  # k=0 -> skip
        [["CREATE", "$.data.tag", "x"], ["CREATE", "$.data.tag", "y"]],
        [["DUPLICATE", "$.data.user_id", "$.data.uid2"], ["DELETE", "$.data.user_id"]],
        [["RENAME", "$.data.props", "$.data.p"]],
        [["CONDITION_IF", "$.data.flag", "$.data.value", ">=", 100, "hi", "lo"]],
        [["LENGTH", "$.data.n", "$.data.props"]],
        [
            ["CREATE", "$.data.s", "hello world"],
            ["UPPER_CASE", "$.data.s"],
            ["ADD_PREFIX", "$.data.s", ">>"],
            ["REPLACE_STRING", "$.data.s", "L", "_"],
            ["CAPITALIZE_WORD", "$.data.s"],
        ],
        [
            ["CREATE", "$.data.s", "a[inner]b"],
            ["EXTRACT_BETWEEN_DELIMITERS", "$.data.s", "$.data.mid", "[", "]"],
            ["EXTRACT_BETWEEN_POSITIONS", "$.data.s", "$.data.pos", 2, 4],
            ["CHECK_CUSTOM_VALUES", "$.data.s", "inner", "$.data.has", "Y", "N"],
        ],
        [["SPLIT_WITH_DELIMITER", "$.data.s", ",", "$.data.parts"]],  # s unknown -> skipped both
        # round 4: array-producing splits + JOIN (compiled)
        [
            ["CREATE", "$.data.s", "abcdefgh"],
            ["SPLIT_FROM_START", "$.data.s", 3, "$.data.sp"],
        ],
        [
            ["CREATE", "$.data.s", "abcdefgh"],
            ["SPLIT_FROM_START", "$.data.s", 99, "$.data.sp"],  # pos > len
        ],
        [
            ["CREATE", "$.data.s", "abcdefgh"],
            ["SPLIT_BETWEEN_POSITIONS", "$.data.s", 2, 5, "$.data.sp"],
        ],
        [
            ["CREATE", "$.data.s", "abc"],
            ["SPLIT_BETWEEN_POSITIONS", "$.data.s", 2, 9, "$.data.sp"],  # end > len
        ],
        [
            ["CREATE", "$.data.s", "abcdefgh"],
            ["SPLIT_WITH_INTERVALS", "$.data.s", 2, 3, "$.data.sp"],
        ],
        [
            ["CREATE", "$.data.s", "ab"],
            ["SPLIT_WITH_INTERVALS", "$.data.s", 5, 2, "$.data.sp"],  # start > len
        ],
        [
            ["CREATE", "$.data.s", "a,b,c"],
            ["SPLIT_WITH_DELIMITER", "$.data.s", ",", "$.data.parts"],
            ["JOIN", "$.data.joined", "-", "$.data.parts", "$.data.parts"],
        ],
    ],
)
def test_compiled_matches_interpreter(cloudevents, pipeline):
    try:
        compiled, interp = both_paths(cloudevents, pipeline)
    except CompileFallback:
        pytest.fail(f"pipeline unexpectedly not compilable: {pipeline}")
    assert compiled == interp


def test_fallback_on_dynamic_paths(cloudevents):
    with pytest.raises(CompileFallback):
        compile_transformer(
            {"pipeline": [["UNFOLD_ARRAY", "$.data.arr", "$.data.item"]]}, DATA_SCHEMA
        )
    with pytest.raises(CompileFallback):
        compile_transformer({"pipeline": [["CREATE", "$.data.a[0]", 1]]}, DATA_SCHEMA)


def test_subscription_uses_compiled_path(cloudevents):
    sub = Subscription.from_spec(
        {
            "filters": [{"exact": {"type": "purchase"}}],
            "transformer": {"pipeline": [["MATH_MUL", "$.data.value", "$.data.value", 100]]},
        }
    )
    out = sub.apply(cloudevents, data_schema=DATA_SCHEMA)
    # compiled plans have no Python eval nodes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    r = out.limit(1).collect()[0]
    assert json.loads(r.data)["value"] == pytest.approx(
        float(json.loads(cloudevents.where("type='purchase'").limit(1).collect()[0].data)["value"]) * 100
    )


def test_subscription_logs_fallback_reason(cloudevents, caplog):
    """The interpreter fallback names its reason in the log; the
    compiled path logs nothing."""
    unfold = Subscription.from_spec(
        {"transformer": {"pipeline": [["UNFOLD_ARRAY", "$.data.arr", "$.data.item"]]}}
    )
    static = Subscription.from_spec(
        {"transformer": {"pipeline": [["MATH_MUL", "$.data.value", "$.data.value", 2]]}}
    )
    with caplog.at_level("DEBUG", logger="vanus_spark.subscription"):
        static.apply(cloudevents, data_schema=DATA_SCHEMA)
        assert caplog.records == []
        unfold.apply(cloudevents, data_schema=DATA_SCHEMA)
    [rec] = caplog.records
    assert rec.levelname == "INFO"
    assert "interpreter" in rec.getMessage() and "UNFOLD_ARRAY" in rec.getMessage()


def test_subscription_falls_back_for_template(cloudevents):
    sub = Subscription.from_spec(
        {"transformer": {"pipeline": [["MATH_MUL", "$.data.value", "$.data.value", 2]],
                         "template": "v=<$.data.value>"}}
    )
    out = sub.apply(cloudevents.limit(5), data_schema=DATA_SCHEMA)
    assert out.collect()[0].data.startswith("v=")


def test_array_foreach_compiles_with_abort_prefix(spark):
    """ARRAY_FOREACH compiles for a single in-place string op over a
    schema array<struct>, reproducing the interpreter's mid-array
    abort: elements before the first error keep their mutation, the
    failing element and everything after stay untouched."""
    schema = "items array<struct<name: string, n: long>>"
    rows = [
        # all valid -> every element mutated
        ("1", '{"items":[{"name":"ab","n":1},{"name":"cd","n":2}]}'),
        # middle element's name is ABSENT -> nested read errors there:
        # first element keeps its mutation, second and third untouched
        # (explicit JSON null is out of compiled scope: to_json cannot
        # re-emit it — the documented absent-vs-null wire limit)
        ("2", '{"items":[{"name":"x","n":1},{"n":2},{"name":"z","n":3}]}'),
        # empty array -> no-op
        ("3", '{"items":[]}'),
    ]
    df = spark.createDataFrame(
        [(i, "/s", "1.0", "t", None, None, None, None, {}, d) for i, d in rows],
        "id string, source string, specversion string, type string, "
        "time timestamp, datacontenttype string, dataschema string, "
        "subject string, attributes map<string,string>, data string",
    )
    pipeline = [["ARRAY_FOREACH", "$.data.items", ["UPPER_CASE", "$.data.name"]]]
    c, i = _run_both(df, pipeline, schema)
    assert c == i
    assert c["1"] == ({"items": [{"name": "AB", "n": 1}, {"name": "CD", "n": 2}]}, False)
    items = c["2"][0]["items"]
    assert items[0]["name"] == "X"      # before the abort: mutated
    assert "name" not in items[1]       # the failing element
    assert items[2]["name"] == "z"      # after the abort: untouched


def test_array_foreach_falls_back_outside_subset(cloudevents):
    """Nested non-string ops / multiple nested commands stay on the
    interpreter path."""
    with pytest.raises(CompileFallback):
        compile_transformer(
            {"pipeline": [
                ["ARRAY_FOREACH", "$.data.items", ["MATH_ADD", "$.data.n", "$.data.n", 1]]
            ]},
            "items array<struct<name: string, n: long>>",
        )


def test_render_array_compiles(spark):
    """RENDER_ARRAY compiles to one transform over a schema
    array<struct>: static render parity with the interpreter,
    including the no-placeholder and missing-field-aborts cases."""
    schema = "users array<struct<name: string, n: long>>"
    rows = [
        ("1", '{"users":[{"name":"ann","n":1},{"name":"bob","n":2}]}'),
        # second element misses n -> wildcard read errors -> action
        # skipped entirely (no tags field)
        ("2", '{"users":[{"name":"x","n":1},{"name":"y"}]}'),
        ("3", '{"users":[]}'),
    ]
    df = spark.createDataFrame(
        [(i, "/s", "1.0", "t", None, None, None, None, {}, d) for i, d in rows],
        "id string, source string, specversion string, type string, "
        "time timestamp, datacontenttype string, dataschema string, "
        "subject string, attributes map<string,string>, data string",
    )
    pipeline = [["RENDER_ARRAY", "$.data.tags", "$.data.users", "u=<@.name>#<@.n>;"]]
    c, i = _run_both(df, pipeline, schema)
    assert c == i
    assert c["1"][0]["tags"] == ["u=ann#1;", "u=bob#2;"]
    assert "tags" not in c["2"][0]
    assert "tags" not in c["3"][0]  # empty array: wildcard read errors -> skip

    # no placeholders: unconditional single-element render
    pipeline2 = [["RENDER_ARRAY", "$.data.tags", "$.data.users", "static"]]
    c2, i2 = _run_both(df, pipeline2, schema)
    assert c2 == i2
    assert c2["1"][0]["tags"] == ["static"]


def test_register_column_action_compiles(cloudevents):
    """§2.12 compiled-path extensibility: a user Column builder
    registered under an action name compiles like a built-in and
    agrees with a matching interpreter registration."""
    from vanus_spark.actions.interp import register
    from vanus_spark.casts import py_cast
    from vanus_spark.plans.compiler import register_column_action, _skip_on_null

    @register("SHOUT", 1)
    def _shout_interp(args, ctx):
        v = py_cast(args[0].evaluate(ctx), "string")
        args[0].set_value(ctx, v.upper() + "!")

    @register_column_action("SHOUT")
    def _shout_col(state, args):
        path = args[0][7:]  # strip "$.data."
        old = state.get(path).cast("string")
        state.set(
            path,
            _skip_on_null(state, path, F.concat(F.upper(old), F.lit("!"))),
            "string",
        )

    pipeline = [["CREATE", "$.data.s", "hey"], ["SHOUT", "$.data.s"]]
    compiled, interp = both_paths(cloudevents, pipeline)
    assert compiled == interp
    assert all(d["s"] == "HEY!" for d, err in compiled.values() if not err)
