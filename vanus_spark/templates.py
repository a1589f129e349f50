"""Output templates: text and JSON.

Reference semantics:
- Text template: literal text + ``<var>`` (define/model variables) +
  ``<$.json.path>`` substitutions, backslash escaping
  (reference: pkg/template/text/parse.go:30-112, template.go:33-54).
- JSON template: full JSON grammar where any value or string fragment
  can be a ``<var>`` / ``<$.path>`` node; null-valued members render
  cleanly (reference: pkg/template/json/template.go:30-84).
- Template type sniffing when unspecified: first char '{' '[' '"'
  => JSON else text (reference: pkg/subscription.go:137-155).
- Template model: id, source, type, specversion, datacontenttype,
  dataschema, subject, time, data, plus extensions
  (reference: server/trigger/transform/transformer.go:108-137).

Python renderer (exact, used by the interpreter path) + a Column
compiler for static templates (to_json(struct)/concat — the JVM path).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, functions as F

from vanus_spark.casts import py_cast
from vanus_spark.jsonpath import JSONPathNotExist, get_json_col, py_get

_PLACEHOLDER_RE = re.compile(r"<(\$\.[^<>]+|[A-Za-z_][A-Za-z0-9_.]*)>")


def sniff_template_type(text: str) -> str:
    """'json' or 'text' (reference: pkg/subscription.go:137-155)."""
    for ch in text:
        if ch.isspace():
            continue
        return "json" if ch in "{[\"" else "text"
    return "text"


def template_of(tmpl: Any) -> tuple[str | None, str | None]:
    """(text, type) of a transformer spec's ``template`` entry: either
    the bare template string or ``{type: text|json, template: ...}``;
    an unset type is sniffed. (None, None) when there is no template."""
    if isinstance(tmpl, dict):
        text = tmpl.get("template")
        return text, tmpl.get("type") or sniff_template_type(text or "")
    return tmpl, sniff_template_type(tmpl) if tmpl else None


# ---------------------------------------------------------------------------
# Parsing (shared segment model)
# ---------------------------------------------------------------------------

@dataclass
class Segment:
    kind: str  # "text" | "var" | "path"
    value: str


def parse_text_template(text: str) -> list[Segment]:
    """Scan for <...> placeholders with backslash escapes
    (reference: pkg/template/text/parse.go:30-112)."""
    segments: list[Segment] = []
    buf: list[str] = []
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == "\\" and i + 1 < n:
            buf.append(text[i + 1])
            i += 2
            continue
        if ch == "<":
            j = text.find(">", i + 1)
            if j < 0:
                buf.append(text[i:])
                break
            inner = text[i + 1 : j]
            if buf:
                segments.append(Segment("text", "".join(buf)))
                buf = []
            if inner.startswith("$."):
                segments.append(Segment("path", inner))
            else:
                segments.append(Segment("var", inner))
            i = j + 1
            continue
        buf.append(ch)
        i += 1
    if buf:
        segments.append(Segment("text", "".join(buf)))
    return segments


# ---------------------------------------------------------------------------
# Python renderer (interpreter path)
# ---------------------------------------------------------------------------

def _resolve(model: dict[str, Any], define: dict[str, Any], seg: Segment) -> Any:
    if seg.kind == "var":
        # define wins over model (define vars are referenced as <name>)
        key = f"<{seg.value}>"
        if key in define:
            return define[key]
        if seg.value in define:
            return define[seg.value]
        return model.get(seg.value)
    # path: $.data.x addresses the model (data lives under 'data')
    try:
        return py_get(model, seg.value)
    except JSONPathNotExist:
        return None


def render_text(segments: list[Segment], model: dict[str, Any], define: dict[str, Any]) -> str:
    out = []
    for seg in segments:
        if seg.kind == "text":
            out.append(seg.value)
        else:
            v = _resolve(model, define, seg)
            out.append("" if v is None else py_cast(v, "string"))
    return "".join(out)


def render_json(template: str, model: dict[str, Any], define: dict[str, Any]) -> str:
    """Render a JSON template: placeholders inside string literals
    substitute their string form; bare placeholders substitute their
    JSON encoding (null when missing)."""
    out: list[str] = []
    i = 0
    n = len(template)
    in_string = False
    while i < n:
        ch = template[i]
        if ch == '"' and (i == 0 or template[i - 1] != "\\"):
            in_string = not in_string
            out.append(ch)
            i += 1
            continue
        if ch == "<":
            m = _PLACEHOLDER_RE.match(template, i)
            if m:
                seg = (
                    Segment("path", m.group(1))
                    if m.group(1).startswith("$.")
                    else Segment("var", m.group(1))
                )
                v = _resolve(model, define, seg)
                if in_string:
                    s = "" if v is None else py_cast(v, "string")
                    out.append(json.dumps(s, ensure_ascii=False)[1:-1])
                else:
                    out.append(json.dumps(v, ensure_ascii=False, separators=(",", ":")))
                i = m.end()
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def build_template_model(attrs: dict[str, Any], data: Any) -> dict[str, Any]:
    """reference: transformer.go:108-137 buildTemplateModel."""
    model: dict[str, Any] = {}
    for k in ("id", "source", "specversion", "type"):
        model[k] = attrs.get(k)
    for k in ("datacontenttype", "dataschema", "subject", "time"):
        if attrs.get(k):
            model[k] = attrs[k]
    if data is not None:
        model["data"] = data
    for k, v in attrs.items():
        if k not in ("id", "source", "specversion", "type", "datacontenttype",
                     "dataschema", "subject", "time", "data"):
            model[k] = v
    return model


# ---------------------------------------------------------------------------
# Column compiler (JVM path for static templates)
# ---------------------------------------------------------------------------

def _json_encode_col(v: Column) -> Column:
    """JSON-encode a typed Column: wrap in to_json(struct(x)) and
    strip the envelope — type-faithful (strings quoted+escaped,
    numbers bare, NULL -> 'null')."""
    encoded = F.regexp_extract(
        F.to_json(F.struct(v.alias("x"))), '^\\{"x":(.*)\\}$', 1
    )
    return F.when(v.isNull(), F.lit("null")).otherwise(encoded)


def _json_string_fragment(v: Column) -> Column:
    """Escaped string-body fragment (no surrounding quotes); NULL -> ''."""
    enc = F.regexp_extract(
        F.to_json(F.struct(v.cast("string").alias("x"))), '^\\{"x":"(.*)"\\}$', 1
    )
    return F.when(v.isNull(), F.lit("")).otherwise(enc)


def compile_json_template_generic(template: str, resolve, resolve_str) -> Column:
    """JSON template -> concat() of literal fragments and placeholder
    Columns. ``resolve(inner)`` returns the TYPED Column for a bare
    placeholder (JSON-encoded via to_json); ``resolve_str(inner)`` the
    string form for an in-string one (JSON-escaped; the transformer
    compiler passes Go-style float formatting)."""
    parts: list[Column] = []
    buf: list[str] = []
    in_string = False
    i, n = 0, len(template)

    def flush():
        if buf:
            parts.append(F.lit("".join(buf)))
            buf.clear()

    while i < n:
        ch = template[i]
        if ch == '"' and (i == 0 or template[i - 1] != "\\"):
            in_string = not in_string
            buf.append(ch)
            i += 1
            continue
        if ch == "<":
            m = _PLACEHOLDER_RE.match(template, i)
            if m:
                flush()
                inner = m.group(1)
                if in_string:
                    parts.append(_json_string_fragment(resolve_str(inner)))
                else:
                    parts.append(_json_encode_col(resolve(inner)))
                i = m.end()
                continue
        buf.append(ch)
        i += 1
    flush()
    return F.concat(*parts) if parts else F.lit("")


def compile_text_template(text: str, data_col: str = "data") -> Column:
    """Static text template -> concat() of literals, attribute columns
    and get_json_object extracts. Fully JVM-side."""
    from vanus_spark.model import attribute_column

    cols: list[Column] = []
    for seg in parse_text_template(text):
        if seg.kind == "text":
            cols.append(F.lit(seg.value))
        elif seg.kind == "path":
            if seg.value == "$.data" or seg.value.startswith("$.data."):
                sub = seg.value[6:]  # strip "$.data"
                if not sub:
                    cols.append(F.col(data_col))
                else:
                    cols.append(get_json_col(data_col, "$" + sub))
            else:
                cols.append(attribute_column(seg.value[2:]).cast("string"))
        else:
            cols.append(attribute_column(seg.value).cast("string"))
    if not cols:
        return F.lit("")
    return F.concat_ws("", *[F.coalesce(c.cast("string"), F.lit("")) for c in cols])
