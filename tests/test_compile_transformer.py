"""Equivalence gate: compile_transformer (pure-Column path) must match
the mapInPandas interpreter byte-for-byte on every in-subset spec —
define vars, pipelines, text/JSON templates, nil and malformed
payloads. Payloads that parse but do not fit the data schema are the
documented exception (test_schema_misfit_payload_contract).

Reference semantics under test: transformer.go:67-106 execution order,
define.go:30-76 nil-on-error vars, template.go datacontenttype
rewrites, pipeline.go:41-52 skip-on-error.
"""

from __future__ import annotations

import pytest

from vanus_spark.plans import CompileFallback, compile_transformer
from vanus_spark.transformer import transform_dataframe

ENV_SCHEMA = (
    "id string, source string, specversion string, type string, time timestamp, "
    "datacontenttype string, dataschema string, subject string, "
    "attributes map<string,string>, data string"
)
DATA_SCHEMA = "user_id long, value double, name string, props struct<k: int>"


def _sweep_specs(check_one, specs, workers=4):
    """Run the per-spec compiled-vs-interpreter check over a small
    thread pool: each check is two tiny collect() jobs whose wall is
    dominated by job-submission latency, and the fuzz suites run dozens
    of them — overlapping 4 at a time cut each suite ~3x without
    changing a single case (guide §2.6 overlap, applied to the tests).
    ``check_one(i, spec)`` returns None (pass), "fallback", or a bad
    tuple; returns (bad, n_fellback)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=workers) as pool:
        results = list(
            pool.map(lambda t: check_one(*t), list(enumerate(specs)))
        )
    bad = [r for r in results if r is not None and r != "fallback"]
    return bad, sum(1 for r in results if r == "fallback")


def _envelope(spark):
    rows = [
        ("1", "/s", "1.0", "purchase", None, "application/json", None, None,
         {"partitionkey": "12"}, '{"user_id":12,"value":9.64,"name":"ada","props":{"k":87}}'),
        ("2", "/s", "1.0", "signup", None, "application/json", None, None,
         {"partitionkey": "7"}, '{"user_id":7,"value":50.0,"name":"bob","props":{"k":3}}'),
        # value missing -> numeric actions must SKIP, not else-branch
        ("3", "/s", "1.0", "click", None, "application/json", None, None,
         {}, '{"user_id":9,"name":"eve"}'),
        ("4", "/s", "1.0", "purchase", None, "application/json", None, None, {}, "{bad"),
        ("5", "/s", "1.0", "click", None, "application/json", None, None, {}, None),
        ("6", "/s", "1.0", "click", None, "application/json", None, None, {}, ""),
        ("7", "/s", "1.0", "click", None, "application/json", None, None, {}, "null"),
        # non-numeric value -> ordered CONDITION_IF cast error -> skip
        ("8", "/s", "1.0", "click", None, "application/json", None, None,
         {}, '{"user_id":1,"value":3.5,"name":"zoe","props":{"k":1}}'),
    ]
    return spark.createDataFrame(rows, ENV_SCHEMA)


SPECS = {
    "pipeline_only": {
        "pipeline": [
            ["MATH_MUL", "$.data.value", "$.data.value", 100],
            ["CONDITION_IF", "$.data.tier", "$.data.value", ">=", 1000, "gold", "basic"],
            ["UPPER_CASE", "$.data.name"],
        ],
    },
    "define_in_actions": {
        "define": {"u": "$.data.user_id", "ghost": "$.data.nope"},
        "pipeline": [
            ["MATH_ADD", "$.data.value", "$.data.value", "<u>"],
            ["CREATE", "$.data.gone", "<ghost>"],
            ["CREATE", "$.data.undefined_ref", "<never_defined>"],
        ],
    },
    "text_template": {
        "define": {"u": "$.data.user_id", "missing": "$.data.nope"},
        "pipeline": [
            ["MATH_MUL", "$.data.value", "$.data.value", 100],
            ["CONDITION_IF", "$.data.tier", "$.data.value", ">=", 1000, "gold", "basic"],
        ],
        "template": "uid=<u> cents=<$.data.value> tier=<$.data.tier> t=<type> "
                    "pk=<partitionkey> m=<missing>!",
    },
    "json_template": {
        "define": {"u": "$.data.user_id"},
        "pipeline": [["MATH_MUL", "$.data.value", "$.data.value", 100]],
        "template": '{"uid":<u>,"cents":<$.data.value>,"k":<$.data.props.k>,'
                    '"s":"<$.data.value>","n":"<$.data.name>","t":"<type>"}',
    },
    "json_template_dict_form": {
        "template": {"type": "json", "template": '{"t":"<type>","v":<$.data.value>}'},
    },
    # template only; a slot for a field outside the schema renders null
    "json_template_missing_field": {
        "template": '{"uid":<$.data.user_id>,"t":"<type>","v":<$.data.value>,'
                    '"none":<$.data.nope>}',
    },
    "skip_family": {
        "pipeline": [
            ["CHECK_CUSTOM_VALUES", "$.data.nope2", "x", "$.data.flag", "yes", "no"],
            ["EXTRACT_MISSING", "$.data.nope2", "$.data.m", "EMPTY", "FULL"],
            ["SPLIT_WITH_DELIMITER", "$.data.name", "o", "$.data.parts"],
            ["CHECK_CUSTOM_VALUES", "$.data.name", "o", "$.data.has_o", "yes", "no"],
        ],
    },
}


@pytest.mark.parametrize("spec_name", sorted(SPECS))
def test_compiled_matches_interpreter(spark, spec_name):
    spec = SPECS[spec_name]
    df = _envelope(spark)
    cols = ["id", "datacontenttype", "data", "transform_error"]
    interp = sorted(transform_dataframe(df, spec).select(*cols).collect())
    comp = sorted(compile_transformer(spec, DATA_SCHEMA)(df).select(*cols).collect())
    assert comp == interp


def test_schema_misfit_payload_contract(spark):
    """The one place the paths part: a payload that parses as JSON but
    does not fit the data schema is flagged transform_error (DLQ) by
    the compiled path, with the payload passed through untouched; the
    interpreter transforms it."""
    misfits = ['{"user_id":1,"value":"abc"}', "[1,2]"]
    df = spark.createDataFrame(
        [(str(i), "/s", "1.0", "t", None, None, None, None, {}, d)
         for i, d in enumerate(misfits)],
        ENV_SCHEMA,
    )
    spec = {"pipeline": [["MATH_MUL", "$.data.value", "$.data.value", 100]]}
    cols = ["data", "transform_error"]
    comp = sorted(compile_transformer(spec, DATA_SCHEMA)(df).select(*cols).collect())
    interp = sorted(transform_dataframe(df, spec).select(*cols).collect())
    assert [tuple(r) for r in comp] == [(d, True) for d in sorted(misfits)]
    assert [tuple(r) for r in interp] == [
        ("[1,2]", False), ('{"user_id":1,"value":"abc"}', False)
    ]


def test_fallback_on_dynamic_path():
    with pytest.raises(CompileFallback):
        compile_transformer(
            {"pipeline": [["DELETE", "$.data.arr[0]"]]}, DATA_SCHEMA
        )


def test_fallback_on_time_var():
    with pytest.raises(CompileFallback):
        compile_transformer({"template": "at <time>"}, DATA_SCHEMA)


def test_subscription_routes_to_compiled(spark):
    """subscription.apply with a schema must produce a plan with no
    Python eval (no mapInPandas / BatchEvalPython nodes)."""
    from vanus_spark.subscription import Subscription

    sub = Subscription.from_spec(
        {
            "filters": {"exact": {"type": "purchase"}},
            "transformer": SPECS["text_template"],
        }
    )
    out = sub.apply(_envelope(spark), data_schema=DATA_SCHEMA)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan.lower()
    assert "EvalPython" not in plan
    interp = sorted(
        sub.apply(_envelope(spark)).select("id", "data", "transform_error").collect()
    )
    comp = sorted(out.select("id", "data", "transform_error").collect())
    assert comp == interp


def test_position_actions_compiled_vs_interpreter_fuzz(spark):
    """Randomized edge sweep of the POSITION/DELIMITER string family —
    the off-by-one-prone corner of the action surface. Random source
    strings (via names of varying length) x random positions/
    intervals/delimiters, INCLUDING out-of-range and error-triggering
    values: the compiled Column path must reproduce the interpreter's
    outputs AND its skip-on-error decisions byte-for-byte. Batched:
    each spec runs one compiled + one interpreted pass over the 8-row
    envelope."""
    import random as _random

    rng = _random.Random(20260816)
    specs = []
    for i in range(40):
        kind = rng.choice(
            [
                "SPLIT_FROM_START",
                "SPLIT_BETWEEN_POSITIONS",
                "SPLIT_WITH_INTERVALS",
                "REPLACE_BETWEEN_POSITIONS",
                "EXTRACT_BETWEEN_POSITIONS",
                "REPLACE_BETWEEN_DELIMITERS",
                "EXTRACT_BETWEEN_DELIMITERS",
            ]
        )
        a, b = rng.randint(-1, 6), rng.randint(0, 8)
        if kind == "SPLIT_FROM_START":
            act = [kind, "$.data.name", a, "$.data.parts"]
        elif kind == "SPLIT_BETWEEN_POSITIONS":
            act = [kind, "$.data.name", a, b, "$.data.parts"]
        elif kind == "SPLIT_WITH_INTERVALS":
            act = [kind, "$.data.name", max(a, 0), max(b, 1), "$.data.parts"]
        elif kind == "REPLACE_BETWEEN_POSITIONS":
            act = [kind, "$.data.name", a, b, "XX"]
        elif kind == "EXTRACT_BETWEEN_POSITIONS":
            act = [kind, "$.data.name", "$.data.ext", a, b]
        elif kind == "REPLACE_BETWEEN_DELIMITERS":
            sd = rng.choice(["a", "d", "zz", "b"])
            ed = rng.choice(["a", "e", "q", "o"])
            act = [kind, "$.data.name", sd, ed, "Y"]
        else:
            sd = rng.choice(["a", "d", "zz", "b"])
            ed = rng.choice(["a", "e", "q", "o"])
            act = [kind, "$.data.name", "$.data.ext", sd, ed]
        specs.append({"pipeline": [act]})

    df = _envelope(spark)
    cols = ["id", "data", "transform_error"]

    def check(i, spec):
        try:
            compiled_fn = compile_transformer(spec, DATA_SCHEMA)
        except CompileFallback:
            return "fallback"  # interpreter route: trivially equal
        comp = sorted(compiled_fn(df).select(*cols).collect())
        interp = sorted(transform_dataframe(df, spec).select(*cols).collect())
        if comp != interp:
            return (i, spec["pipeline"][0], interp[:2], comp[:2])
        return None

    bad, _ = _sweep_specs(check, specs)
    assert not bad, bad[:3]


def test_math_actions_compiled_vs_interpreter_fuzz(spark):
    """Randomized MATH_* sweep over mixed operands — data paths
    (float, int, missing), numeric literals, numeric STRINGS (valid
    and strconv-invalid like ' 12 ' / '1_0'), zero divisors — the
    compiled Columns must reproduce the interpreter's values and its
    skip decisions byte-for-byte, including the arg-cast errors the
    strconv alignment just tightened."""
    import random as _random

    rng = _random.Random(20260818)
    operands = [
        "$.data.value", "$.data.user_id", "$.data.nope",
        2, 100, -3, 0, 2.5, "7", "-1.5", " 12 ", "1_0", "0",
    ]
    specs = []
    for _ in range(36):
        op = rng.choice(["MATH_ADD", "MATH_SUB", "MATH_MUL", "MATH_DIV"])
        n = 2 if op in ("MATH_SUB", "MATH_DIV") else rng.randint(2, 4)
        args = [rng.choice(operands) for _ in range(n)]
        specs.append({"pipeline": [[op, "$.data.out", *args]]})

    df = _envelope(spark)
    cols = ["id", "data", "transform_error"]

    def check(i, spec):
        try:
            fn = compile_transformer(spec, DATA_SCHEMA)
        except CompileFallback:
            return "fallback"
        comp = sorted(fn(df).select(*cols).collect())
        interp = sorted(transform_dataframe(df, spec).select(*cols).collect())
        if comp != interp:
            return (i, spec["pipeline"][0], interp[:2], comp[:2])
        return None

    bad, _ = _sweep_specs(check, specs)
    assert not bad, bad[:3]


def test_condition_if_compiled_vs_interpreter_fuzz(spark):
    """CONDITION_IF across all five operators with numeric, string,
    missing, and non-numeric sources: ordered ops must cast-error =>
    skip on non-numeric values while '==' compares strings — the
    compiled probe and the interpreter must take identical branches
    row-for-row."""
    import random as _random

    rng = _random.Random(20260819)
    sources = ["$.data.value", "$.data.user_id", "$.data.name", "$.data.nope"]
    cmp_vals = [0, 9.64, 50, "ada", "9.64", 1000, -1]
    specs = []
    for _ in range(30):
        op = rng.choice(["==", ">", ">=", "<", "<="])
        specs.append(
            {
                "pipeline": [
                    [
                        "CONDITION_IF",
                        "$.data.flag",
                        rng.choice(sources),
                        op,
                        rng.choice(cmp_vals),
                        "yes",
                        "no",
                    ]
                ]
            }
        )

    df = _envelope(spark)
    cols = ["id", "data", "transform_error"]

    def check(i, spec):
        try:
            fn = compile_transformer(spec, DATA_SCHEMA)
        except CompileFallback:
            return "fallback"
        comp = sorted(fn(df).select(*cols).collect())
        interp = sorted(transform_dataframe(df, spec).select(*cols).collect())
        if comp != interp:
            return (i, spec["pipeline"][0], interp[:2], comp[:2])
        return None

    bad, _ = _sweep_specs(check, specs)
    assert not bad, bad[:3]


def test_struct_action_sequences_compiled_vs_interpreter_fuzz(spark):
    """Random SEQUENCES of struct-shape actions (CREATE / DELETE /
    RENAME / DUPLICATE / MOVE) over random paths: later actions see
    the state earlier ones left, so exists/absent branches interact —
    compiled state tracking must make the same skip decisions as the
    interpreter for every prefix."""
    import random as _random

    rng = _random.Random(20260820)
    paths = ["$.data.name", "$.data.tag", "$.data.x", "$.data.props.k",
             "$.data.nope"]
    specs = []
    for _ in range(24):
        pipeline = []
        for _ in range(rng.randint(2, 4)):
            kind = rng.choice(["CREATE", "DELETE", "RENAME", "DUPLICATE", "MOVE"])
            if kind == "CREATE":
                pipeline.append([kind, rng.choice(paths), rng.choice([1, "v", 2.5])])
            elif kind == "DELETE":
                pipeline.append([kind, rng.choice(paths)])
            else:
                pipeline.append([kind, rng.choice(paths), rng.choice(paths)])
        specs.append({"pipeline": pipeline})

    import json as _json

    def canon(rows):
        # Key ORDER in the data JSON is representation, not
        # semantics: the interpreter appends in creation order, the
        # compiler in schema order (and the reference's Go map
        # marshaling alphabetizes — a third convention). Compare
        # parsed values.
        out = []
        for r in rows:
            try:
                d = _json.loads(r.data) if r.data is not None else None
            except ValueError:
                d = r.data
            out.append((r.id, _json.dumps(d, sort_keys=True), r.transform_error))
        return sorted(out)

    df = _envelope(spark)
    cols = ["id", "data", "transform_error"]

    def check(i, spec):
        try:
            fn = compile_transformer(spec, DATA_SCHEMA)
        except CompileFallback:
            return "fallback"
        comp = canon(fn(df).select(*cols).collect())
        interp = canon(transform_dataframe(df, spec).select(*cols).collect())
        if comp != interp:
            return (i, spec["pipeline"], interp[:2], comp[:2])
        return None

    bad, fell_back = _sweep_specs(check, specs)
    assert not bad, bad[:2]
    assert fell_back < len(specs)  # the fuzz must exercise SOME compiled runs


def test_json_template_compiled_vs_interpreter_fuzz(spark):
    """Random JSON templates mixing BARE placeholders (JSON-encoded
    substitution, null when missing) and IN-STRING placeholders
    (string-form substitution, '' when missing) over numeric, string,
    nested, and missing model values — the compiled JSON template
    must render byte-for-byte what render_json produces."""
    import random as _random

    rng = _random.Random(20260821)
    bare_vals = ["<$.data.user_id>", "<$.data.value>", "<$.data.nope>",
                 "<$.data.props.k>"]
    str_vals = ["<$.data.name>", "<$.data.user_id>", "<$.data.nope>",
                "<type>", "<id>"]
    specs = []
    for _ in range(30):
        fields = []
        for j in range(rng.randint(1, 4)):
            if rng.random() < 0.5:
                fields.append(f'"f{j}":{rng.choice(bare_vals)}')
            else:
                fields.append(f'"f{j}":"pre {rng.choice(str_vals)} post"')
        specs.append(
            {"template": {"type": "json", "template": "{" + ",".join(fields) + "}"}}
        )

    df = _envelope(spark)
    cols = ["id", "data", "transform_error", "datacontenttype"]

    def check(i, spec):
        try:
            fn = compile_transformer(spec, DATA_SCHEMA)
        except CompileFallback:
            return "fallback"
        comp = sorted(fn(df).select(*cols).collect())
        interp = sorted(transform_dataframe(df, spec).select(*cols).collect())
        if comp != interp:
            return (i, spec["template"]["template"], interp[:2], comp[:2])
        return None

    bad, fell_back = _sweep_specs(check, specs)
    assert not bad, bad[:2]
    assert fell_back < len(specs)
