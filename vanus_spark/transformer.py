"""Transformer = define + pipeline + template, over DataFrames.

Execution per event (reference: server/trigger/transform/
transformer.go:67-106): ① parse payload as JSON (failure = transform
error -> DLQ route), ② evaluate define vars (errors -> var nil,
continue; reference: define/define.go:30-76), ③ run actions
sequentially with skip-on-error, ④ render template as the new payload
or re-serialize the mutated data.

Spark integration: the whole transformer runs as ONE ``mapInPandas``
over the envelope DataFrame — Arrow-batched, partition-parallel, no
driver involvement; the per-row Python interpreter is the price of
schemaless JSON mutation (static transformers should use
plans/compiler.py compile_transformer instead, which stays JVM-side).

Output adds a ``transform_error`` boolean column — the route-split
marker for the DLQ path (reference: trigger.go:285-297).
"""

from __future__ import annotations

import json
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame

from vanus_spark.actions.interp import (
    BoundAction,
    EventContext,
    build_action,
    new_arg,
    run_pipeline,
)
from vanus_spark.templates import (
    build_template_model,
    parse_text_template,
    render_json,
    render_text,
    template_of,
)

TRANSFORM_OUTPUT_SCHEMA = (
    "id string, source string, specversion string, type string, "
    "time timestamp, datacontenttype string, dataschema string, "
    "subject string, attributes map<string,string>, data string, "
    "transform_error boolean"
)


class Transformer:
    """Compiled subscription transformer (spec: {define, pipeline, template})."""

    def __init__(self, spec: dict[str, Any] | None):
        spec = spec or {}
        self.define_args = {
            f"<{k}>": new_arg(v) for k, v in (spec.get("define") or {}).items()
        }
        # an unparseable action is skipped, not fatal — the reference
        # logs and continues (pipeline/pipeline.go:37-48 Parse)
        self.actions: list[BoundAction] = []
        self.parse_errors: list[str] = []
        for cmd in spec.get("pipeline") or []:
            try:
                self.actions.append(build_action(cmd))
            except Exception as e:  # noqa: BLE001
                self.parse_errors.append(f"{cmd!r}: {e}")
        self.template, self.template_type = template_of(spec.get("template"))
        self.text_segments = (
            parse_text_template(self.template) if self.template_type == "text" else None
        )

    @property
    def is_noop(self) -> bool:
        return not self.define_args and not self.actions and self.template is None

    def execute_event(self, attrs: dict[str, Any], data_raw: str | None) -> tuple[dict[str, Any], str | None, bool]:
        """Returns (attrs, new_data, is_error)."""
        try:
            data = json.loads(data_raw) if data_raw else None
        except (json.JSONDecodeError, TypeError):
            return attrs, data_raw, True  # ErrTransformCode -> DLQ
        ctx = EventContext(attrs=attrs, data=data)
        # define vars: evaluation errors leave the var nil (define.go:51-76)
        define: dict[str, Any] = {}
        for name, arg in self.define_args.items():
            try:
                define[name] = arg.evaluate(ctx)
            except Exception:  # noqa: BLE001
                define[name] = None
        ctx.define = define
        run_pipeline(self.actions, ctx)
        if self.template is not None:
            model = build_template_model(ctx.attrs, ctx.data)
            if self.template_type == "json":
                rendered = render_json(self.template, model, define)
                ctx.attrs["datacontenttype"] = "application/json"
            else:
                rendered = render_text(self.text_segments, model, define)
                ctx.attrs["datacontenttype"] = "text/plain"
            return ctx.attrs, rendered, False
        return ctx.attrs, json.dumps(ctx.data, ensure_ascii=False, separators=(",", ":")), False


def transform_dataframe(df: DataFrame, spec: dict[str, Any] | None) -> DataFrame:
    """Apply a transformer spec to an envelope DataFrame via
    mapInPandas (Arrow-batched). Adds ``transform_error``."""
    tf = Transformer(spec)
    if tf.is_noop:
        from pyspark.sql import functions as F

        return df.withColumn("transform_error", F.lit(False))

    # the per-event action loop below is the expensive seam; a narrow
    # (single-file-scan) input would run it in ONE task. Widen to the
    # session's parallelism first — guide §2: the exchange moves the
    # envelope bytes once and buys #cores-way Python workers. No-op on
    # already-wide inputs.
    from vanus_spark.operators.parallelism import repartition_for_compute

    df = repartition_for_compute(df)

    spec_json = json.dumps(spec)  # re-build inside workers: cheap & picklable
    # user-registered actions (reference runtime.AddAction) live only in
    # the driver's registry — capture them into the closure so the
    # worker-side rebuild can resolve them instead of parse-skipping
    from vanus_spark.actions.interp import custom_actions

    shipped_actions = custom_actions()

    spec_keys = ("id", "source", "specversion", "type", "datacontenttype",
                 "dataschema", "subject")

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if shipped_actions:
            from vanus_spark.actions.interp import install_actions

            install_actions(shipped_actions)
        worker_tf = Transformer(json.loads(spec_json))
        for pdf in batches:
            n = len(pdf)
            # Envelope marshalling is vectorized AROUND the per-event
            # action loop: column pulls, the time isoformat, and the
            # output assembly are per-column pandas ops; only the
            # dynamic action pipeline runs per row.
            cols_in = {
                k: (pdf[k].tolist() if k in pdf.columns else [None] * n)
                for k in spec_keys
            }
            if "time" in pdf.columns:
                times = pdf["time"].tolist()
                time_strs = [
                    None if t is None or t != t else t.isoformat()
                    for t in times
                ]
            else:
                times = [None] * n
                time_strs = [None] * n
            exts_in = (
                pdf["attributes"].tolist()
                if "attributes" in pdf.columns else [None] * n
            )
            data_in = pdf["data"].tolist() if "data" in pdf.columns else [None] * n

            out_cols: dict[str, list] = {k: [] for k in spec_keys}
            out_attrs, out_data, out_err = [], [], []
            base = {}
            for i in range(n):
                base.clear()
                for k in spec_keys:
                    v = cols_in[k][i]
                    if v is not None:
                        base[k] = v
                if time_strs[i] is not None:
                    base["time"] = time_strs[i]
                ext = exts_in[i]
                if isinstance(ext, dict):
                    for k, v in ext.items():
                        if v is not None:
                            base[k] = v
                new_attrs, new_data, is_err = worker_tf.execute_event(
                    dict(base), data_in[i]
                )
                for k in spec_keys:
                    out_cols[k].append(new_attrs.get(k))
                out_attrs.append({
                    k: str(v) for k, v in new_attrs.items()
                    if k not in spec_keys and k != "time" and v is not None
                })
                out_data.append(new_data)
                out_err.append(is_err)
            yield pd.DataFrame({
                **out_cols,
                "time": times,
                "attributes": out_attrs,
                "data": out_data,
                "transform_error": out_err,
            })

    return df.mapInPandas(run_batches, schema=TRANSFORM_OUTPUT_SCHEMA)
