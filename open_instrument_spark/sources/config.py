"""Store-config loader (S14-adjacent): the reference's ASCII-protobuf
``config.txt`` → engine objects.

The reference servers read a text-format protobuf config
(lib/store_config.cc; schema lib/openinstrument.proto:194-212:
``RetentionPolicy { policy { variable{...} policy: KEEP|DROP
min_age/max_age mutation{sample_type, sample_frequency} } }`` plus
``server { address }`` blocks) and serve it over GetConfig. Here the
same file drives the Spark engine: ``load_store_config`` parses the
text format and yields the retention ``PolicyItem`` list that
``apply_retention``/``run_retention_job`` execute, plus the server list
(informational — Spark's cluster manager replaces the reference's
static membership).

The parser is a ~50-line text-proto reader covering the subset the
config schema uses: ``name: scalar``, ``name { ... }`` and
``name: { ... }`` nesting, repeated fields, ``#`` comments, quoted
strings with escapes. Driver-side only (config files are KB) — nothing
here touches the data path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from open_instrument_spark.canonical import variable_pattern
from open_instrument_spark.functions.match import VariableMatcher
from open_instrument_spark.operators.retention import PolicyItem

_TOKEN = re.compile(
    r"""
    \s+
  | \#[^\n]*                       # comment to end of line
  | (?P<str>"(?:\\.|[^"\\])*")     # quoted string
  | (?P<punct>[{}:])
  | (?P<atom>[A-Za-z0-9_./*-]+)    # field names, enums, numbers
    """,
    re.VERBOSE,
)


def _tokens(text: str):
    pos = 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if m is None:
            raise ValueError(f"bad config syntax at {text[pos:pos + 30]!r}")
        pos = m.end()
        if m.lastgroup:
            yield m.lastgroup, m.group(m.lastgroup)


def _unquote(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s[1:-1])


def parse_text_proto(text: str) -> dict[str, list]:
    """Text-format protobuf → dict of field name → list of values
    (every field treated as repeated; scalars are str/int, messages are
    nested dicts)."""
    toks = list(_tokens(text))

    def parse_msg(i: int, stop_at_brace: bool) -> tuple[dict, int]:
        out: dict[str, list] = {}
        while i < len(toks):
            kind, val = toks[i]
            if kind == "punct" and val == "}":
                if not stop_at_brace:
                    raise ValueError("unbalanced '}'")
                return out, i + 1
            if kind != "atom":
                raise ValueError(f"expected field name, got {val!r}")
            name, i = val, i + 1
            if i >= len(toks):
                raise ValueError(f"dangling field {name!r}")
            kind, val = toks[i]
            if kind == "punct" and val == ":":
                i += 1
                if i >= len(toks):
                    raise ValueError(f"dangling value for field {name!r}")
                kind, val = toks[i]
                if kind == "punct" and val == "{":   # "name: { ... }"
                    sub, i = parse_msg(i + 1, True)
                    out.setdefault(name, []).append(sub)
                    continue
                if kind == "str":
                    scalar: object = _unquote(val)
                elif kind == "atom":
                    scalar = int(val) if re.fullmatch(r"-?\d+", val) else val
                else:
                    raise ValueError(f"bad value for {name!r}: {val!r}")
                out.setdefault(name, []).append(scalar)
                i += 1
            elif kind == "punct" and val == "{":      # "name { ... }"
                sub, i = parse_msg(i + 1, True)
                out.setdefault(name, []).append(sub)
            else:
                raise ValueError(f"expected ':' or '{{' after {name!r}")
        if stop_at_brace:
            raise ValueError("missing '}'")
        return out, i

    msg, _ = parse_msg(0, False)
    return msg


# StreamMutation.SampleType → engine mutation kind
# (lib/openinstrument.proto:24-52; NONE + sample_frequency is the Go
# Interpolate pairing, mutations/mutations.go:90-137)
_SAMPLE_TYPE = {
    "NONE": "interpolate",
    "AVERAGE": "mean",
    "MAX": "max",
    "MIN": "min",
    "RATE": "rate",
    "RATE_SIGNED": "rate_signed",
    "DELTA": "delta",
    "LATEST": "latest",
}


def _variable_pattern(var: dict) -> str:
    """StreamVariable message → the canonical pattern string our
    VariableMatcher parses (:func:`canonical.variable_pattern`)."""
    return variable_pattern(
        var.get("name", ["*"])[0],
        {l.get("label", [""])[0]: l.get("value", [""])[0] for l in var.get("label", [])},
    )


def _policy_item(p: dict) -> PolicyItem:
    variables = tuple(
        _variable_pattern(v) for v in p.get("variable", [])
    ) or ("*",)
    for pat in variables:
        VariableMatcher.from_string(pat)  # validate early
    mutations = []
    for m in p.get("mutation", []):
        st = m.get("sample_type", ["NONE"])[0]
        kind = _SAMPLE_TYPE.get(str(st))
        if kind is None:
            raise ValueError(f"unknown sample_type {st!r}")
        freq = m.get("sample_frequency", [None])[0]
        if kind == "interpolate" and freq is None:
            continue  # NONE without a frequency = identity
        mutations.append((kind, freq))
    # proto default 0 = unset (lib/openinstrument.proto:205-206)
    min_age = p.get("min_age", [0])[0] or None
    max_age = p.get("max_age", [0])[0] or None
    return PolicyItem(
        variables=variables,
        keep=p.get("policy", ["KEEP"])[0] == "KEEP",
        min_age=min_age,
        max_age=max_age,
        mutations=tuple(mutations),
    )


@dataclass(frozen=True)
class StoreConfig:
    servers: tuple[str, ...] = ()
    retention: tuple[PolicyItem, ...] = ()
    retention_interval_s: int = 600  # proto default, openinstrument.proto:211


def load_store_config(text: str) -> StoreConfig:
    """Parse a full config file (server blocks + retention_policy)."""
    msg = parse_text_proto(text)

    def _blocks(key: str) -> list[dict]:
        # message-typed fields must be blocks; a scalar (`server: "x"`)
        # is malformed config and should fail loudly, not AttributeError
        out = msg.get(key, [])
        if not all(isinstance(v, dict) for v in out):
            raise ValueError(f"config field {key!r} must be a {{ }} block")
        return out

    servers = tuple(s.get("address", [""])[0] for s in _blocks("server"))
    # Proto merge semantics for repeated retention_policy blocks:
    # policies CONCATENATE across blocks; scalar interval keeps the
    # last-seen value (openinstrument.proto repeated-field merge).
    retention: tuple[PolicyItem, ...] = ()
    interval = 600
    for rp in _blocks("retention_policy"):
        pols = rp.get("policy", [])
        if not all(isinstance(p, dict) for p in pols):
            raise ValueError("config field 'policy' must be a { } block")
        retention += tuple(_policy_item(p) for p in pols)
        if "interval" in rp:
            interval = rp["interval"][0]
    return StoreConfig(
        servers=servers, retention=retention, retention_interval_s=interval
    )


# --------------------------------------------------------------- rendering
_SAMPLE_TYPE_INV = {v: k for k, v in _SAMPLE_TYPE.items()}


def _quote(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def render_store_config(cfg: StoreConfig) -> str:
    """StoreConfig → the ASCII-protobuf text the reference's servers
    read and GetConfig serves back (server/store.cc:86-95 serializes
    the same message; the HTTP+base64 transport is the declared
    non-goal — the FORMAT round-trip is the behavior, and
    ``load_store_config(render_store_config(cfg))`` reproduces ``cfg``
    with ages/frequencies normalized to their proto form, uint64 ms
    (lib/openinstrument.proto:195-212; duration strings like "4w" are
    this library's input extension and render canonically)."""
    from open_instrument_spark.canonical import parse_label_body
    from open_instrument_spark.functions.durations import parse_duration_ms

    out: list[str] = []
    for addr in cfg.servers:
        out.append(f"server {{\n  address: {_quote(addr)}\n}}")
    pol: list[str] = []
    for item in cfg.retention:
        lines = ["  policy {"]
        for pat in item.variables:
            brace = pat.find("{")
            name = pat if brace < 0 else pat[:brace]
            labels = {} if brace < 0 else parse_label_body(pat[brace:][1:-1])
            vlines = [f"      name: {_quote(name)}"]
            for k, v in labels.items():
                vlines.append(
                    "      label {\n"
                    f"        label: {_quote(k)}\n"
                    f"        value: {_quote(v)}\n"
                    "      }"
                )
            lines.append("    variable {\n" + "\n".join(vlines) + "\n    }")
        lines.append(f"    policy: {'KEEP' if item.keep else 'DROP'}")
        if item.min_age is not None:
            lines.append(f"    min_age: {parse_duration_ms(item.min_age)}")
        if item.max_age is not None:
            lines.append(f"    max_age: {parse_duration_ms(item.max_age)}")
        for kind, freq in item.mutations:
            mlines = [f"      sample_type: {_SAMPLE_TYPE_INV[kind]}"]
            if freq is not None:
                mlines.append(f"      sample_frequency: {parse_duration_ms(freq)}")
            lines.append("    mutation {\n" + "\n".join(mlines) + "\n    }")
        lines.append("  }")
        pol.append("\n".join(lines))
    if pol or cfg.retention_interval_s != 600:
        body = "\n".join(pol)
        interval = (
            f"\n  interval: {cfg.retention_interval_s}"
            if cfg.retention_interval_s != 600
            else ""
        )
        out.append("retention_policy {\n" + body + interval + "\n}")
    return "\n".join(out) + "\n"
