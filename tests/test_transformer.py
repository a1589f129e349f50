"""Transformer pipeline + templates over Spark DataFrames."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from vanus_spark.templates import (
    build_template_model,
    compile_text_template,
    parse_text_template,
    render_json,
    render_text,
    sniff_template_type,
)
from vanus_spark.transformer import Transformer, transform_dataframe


def test_sniff():
    assert sniff_template_type('{"a": 1}') == "json"
    assert sniff_template_type("  [1]") == "json"
    assert sniff_template_type("hello <x>") == "text"


def test_render_text_segments():
    segs = parse_text_template(r"uid=<$.data.user_id>! type=<type> esc=\<x\>")
    model = build_template_model({"id": "1", "type": "purchase"}, {"user_id": 7})
    out = render_text(segs, model, {})
    assert out == "uid=7! type=purchase esc=<x>"


def test_render_json_template():
    tmpl = '{"u":<$.data.user_id>,"t":"<type>","missing":<$.data.nope>}'
    model = build_template_model({"type": "purchase"}, {"user_id": 7})
    out = render_json(tmpl, model, {})
    assert json.loads(out) == {"u": 7, "t": "purchase", "missing": None}


def test_transformer_execute_event():
    tf = Transformer(
        {
            "define": {"uid": "$.data.user_id"},
            "pipeline": [["MATH_MUL", "$.data.value", "$.data.value", 100]],
            "template": "uid=<uid> v=<$.data.value>",
        }
    )
    attrs, data, err = tf.execute_event(
        {"id": "1", "type": "purchase"}, '{"user_id": 3, "value": 2.5}'
    )
    assert not err
    assert data == "uid=3 v=250"
    assert attrs["datacontenttype"] == "text/plain"


def test_transformer_bad_json_is_error():
    tf = Transformer({"pipeline": [["CREATE", "$.data.x", 1]]})
    _, data, err = tf.execute_event({"id": "1"}, "not json{")
    assert err and data == "not json{"


def test_transform_dataframe(spark, cloudevents):
    spec = {
        "pipeline": [
            ["MATH_MUL", "$.data.value", "$.data.value", 100],
            ["CREATE", "$.data.flag", "seen"],
        ]
    }
    out = transform_dataframe(cloudevents.limit(50), spec)
    rows = out.collect()
    assert len(rows) == 50
    assert all(not r.transform_error for r in rows)
    first = json.loads(rows[0].data)
    assert first["flag"] == "seen"
    assert isinstance(first["value"], float)


def test_transform_dataframe_template(spark, cloudevents):
    spec = {
        "define": {"u": "$.data.user_id"},
        "template": '{"uid":<u>,"etype":"<type>"}',
    }
    out = transform_dataframe(cloudevents.limit(10), spec)
    rows = out.collect()
    d = json.loads(rows[0].data)
    assert set(d) == {"uid", "etype"}
    assert rows[0].attributes.get("datacontenttype") is None  # spec attr, not ext
    assert rows[0].datacontenttype == "application/json"


def test_compile_text_template_column(spark, cloudevents):
    col = compile_text_template("uid=<$.data.user_id>:<type>")
    rows = cloudevents.limit(3).select(col.alias("t"), "type", "data").collect()
    for r in rows:
        uid = json.loads(r.data)["user_id"]
        assert r.t == f"uid={uid}:{r.type}"


def test_user_registered_custom_action(cloudevents):
    """The §2.12 extensibility surface (reference runtime.AddAction,
    pkg/transform/runtime/action.go:28-41): a user registers a named
    action into the interpreter registry and uses it in a pipeline
    like any built-in — arity checks, skip-on-error, and arg
    addressing all apply."""
    from vanus_spark.actions.interp import register
    from vanus_spark.casts import py_cast
    from vanus_spark.transformer import transform_dataframe

    @register("REVERSE_STRING", 1)
    def _reverse(args, ctx):
        v = py_cast(args[0].evaluate(ctx), "string")
        args[0].set_value(ctx, v[::-1])

    out = transform_dataframe(
        cloudevents.limit(20),
        {
            "pipeline": [
                ["CREATE", "$.data.s", "hello"],
                ["REVERSE_STRING", "$.data.s"],
            ]
        },
    )
    import json

    rows = [json.loads(r.data) for r in out.collect()]
    assert all(r["s"] == "olleh" for r in rows)
