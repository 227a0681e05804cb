"""THE canonical series-identity kernel: one quote rule, one escape
rule, one parser — shared by the data model (``model.series_key``), the
/export renderer (``sources/export_scrape.canonical_variable``), the
/export parser (``parse_variable``) and the query-pattern matcher
(``functions/match.VariableMatcher``).

The reference has exactly one definition of this grammar
(lib/variable.cc:47-105 ``ToString``/``ShouldQuoteValue``/``QuoteValue``
and lib/variable.cc:21-45 ``FromString``); series identity — grouping,
storage keys, export text, matcher patterns — all flow through it. This
module is that one definition here: every renderer, parser and matcher
delegates to it, so a label value containing ``\\`` or ``,`` keys
identically in the model, the export text and the matcher.

Grammar (mirroring the reference):

- render: ``name{k1=v1,k2=v2}`` — keys sorted lexicographically,
  empty-valued labels omitted (variable.cc:52-53), bare name without
  braces when no labels survive (variable_test.cc:26-41).
- quote rule: a value is double-quoted iff it contains any character
  outside the value-char set ``[a-zA-Z0-9_.\\- */]`` (variable.cc:71-77
  ``IsValueChar``) OR has leading/trailing whitespace (unquoted values
  are whitespace-trimmed on parse, so trim-unstable values only survive
  inside quotes — a lossless refinement over the reference, whose
  ToString emits them bare and whose FromString then corrupts them).
- escape rule: inside quotes, ``,`` ``"`` ``\\`` are backslash-escaped
  (variable.cc:91-105 ``QuoteValue`` escapes ``,`` and ``"``; we also
  escape ``\\`` itself — the reference leaves it raw, which its own
  boost::escaped_list_separator parse then eats, rendering such values
  unparseable).
- parse: optional label block, comma-separated ``k=v``; quoted values
  use a GENERAL backslash escape (``\\x`` → ``x`` for any x —
  boost::escaped_list_separator semantics); unquoted values are trimmed;
  empty keys are skipped.

Round-trip invariant (tested by tests/test_series_key_property.py over
adversarial values incl. ``\\`` ``,`` ``"``):
``parse_variable(canonical_variable(name, labels)) == (name, labels)``
for any labels free of empty values, and the Python renderer is
bit-identical to the Column renderer.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Complement of the value-char set (variable.cc:71-77 IsValueChar):
# letters, digits, '_', '.', '-', ' ', '*', '/'.
NON_VALUE_CHAR_RE = r"[^a-zA-Z0-9_.\- */]"

# Inside quotes, ``,`` ``"`` and ``\`` are backslash-escaped: the regex
# matching one of them and its Java replacement (a backslash, then it).
_ESCAPE_RE = r'([,"\\])'
_ESCAPE_REPL = r"\\$1"


# ---------------------------------------------------------------- render
def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_ident(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def _quoted_value_sql(v: str) -> str:
    """THE quote rule as SQL over the operand ``v``: ``v`` double-quoted,
    with ``,`` ``"`` ``\\`` escaped, iff it holds a non-value char or is
    not trim-stable; ``v`` itself otherwise (null stays null)."""
    return (
        f"CASE WHEN {v} RLIKE {_sql_str(NON_VALUE_CHAR_RE)} "
        f"OR {v} != trim({v}) "
        f"THEN concat('\"', regexp_replace({v}, {_sql_str(_ESCAPE_RE)}, "
        f"{_sql_str(_ESCAPE_REPL)}), '\"') ELSE {v} END"
    )


def quote_label_value(col: str) -> Column:
    """The string column ``col`` quoted iff the canonical grammar
    requires it — JVM-side (regexp + concat, whole-stage codegen)."""
    return F.expr(_quoted_value_sql(_sql_ident(col)))


def canonical_variable(name: str, labels: str) -> Column:
    """(name column, labels-map column) → canonical ``name{k=v,...}``
    string.

    Pure Catalyst expression (map_entries → array_sort → filter →
    transform → array_join, values quoted by
    :func:`_quoted_value_sql`): stays inside whole-stage codegen, usable
    as a shuffle/groupBy key at 100 TB with no Python involvement. It is
    parsed from one SQL text, so rendering it costs one gateway call
    instead of one per builder call. Null or empty label maps (and maps
    whose values are all empty) render as the bare name: size(null) is
    -1 or null, never > 0."""
    entries = (
        f"filter(array_sort(map_entries({_sql_ident(labels)})), "
        "e -> e.value IS NOT NULL AND e.value != '')"
    )
    n = _sql_ident(name)
    return F.expr(
        f"CASE WHEN size({entries}) > 0 THEN concat({n}, '{{', "
        f"array_join(transform({entries}, "
        f"e -> concat(e.key, '=', {_quoted_value_sql('e.value')})), ','), "
        "'}') "
        f"ELSE {n} END"
    )


def canonical_variable_py(name: str, labels: dict[str, str] | None) -> str:
    """Python twin of :func:`canonical_variable` — same grammar, for
    driver-side rendering (config, tests) and the property test that
    pins the two implementations bit-identical."""
    import re

    parts = []
    for k in sorted(labels or {}):
        v = labels[k]
        if v is None or v == "":
            continue
        if re.search(NON_VALUE_CHAR_RE, v) or v != v.strip():
            v = '"' + re.sub(_ESCAPE_RE, r"\\\1", v) + '"'
        parts.append(f"{k}={v}")
    return f"{name}{{{','.join(parts)}}}" if parts else name


def variable_pattern(name: str, labels: dict[str, str] | None) -> str:
    """A name plus a ``{label: value}`` dict → the pattern string
    ``functions/match.VariableMatcher`` parses. Values render through
    :func:`canonical_variable_py`, so grammar characters (comma, quote,
    backslash, edge whitespace) come out quoted and match exactly. The
    matcher's value syntax keeps its meaning: bare ``*`` (presence) and
    ``/re/`` are read from the parsed value, quoted or not, and empty
    or null values (absence), which the renderer drops, are spliced back
    as ``k=``."""
    labels = labels or {}
    pat = canonical_variable_py(
        name, {k: v for k, v in labels.items() if v not in ("", None)}
    )
    absent = ",".join(f"{k}=" for k in sorted(labels) if k and labels[k] in ("", None))
    if not absent:
        return pat
    return pat[:-1] + "," + absent + "}" if pat.endswith("}") else f"{pat}{{{absent}}}"


# ----------------------------------------------------------------- parse
def parse_label_body(body: str) -> dict[str, str]:
    """The label-block scanner (text between ``{`` and ``}``) →
    raw ``{key: value}``.

    Mirrors lib/variable.cc:21-45 ``FromString``: comma-separated
    ``k=v`` pairs; values optionally double-quoted with a general
    backslash escape (``\\x`` → x, boost::escaped_list_separator
    semantics); unquoted values whitespace-trimmed; empty keys skipped.
    Raises ValueError on a pair without ``=`` or an unterminated quote.
    Callers that assign meaning to bare ``*`` / ``''`` / ``/re/``
    (the matcher grammar) interpret the RAW values returned here."""
    labels: dict[str, str] = {}
    i, n = 0, len(body)
    while i < n:
        eq = body.find("=", i)
        if eq == -1:
            raise ValueError(f"label without '=': {body[i:]!r}")
        key = body[i:eq].strip()
        i = eq + 1
        if i < n and body[i] == '"':  # quoted value
            i += 1
            out: list[str] = []
            closed = False
            while i < n:
                c = body[i]
                if c == "\\" and i + 1 < n:
                    out.append(body[i + 1])
                    i += 2
                    continue
                if c == '"':
                    closed = True
                    i += 1
                    break
                out.append(c)
                i += 1
            if not closed:
                raise ValueError(f"unterminated quote in {body!r}")
            value = "".join(out)
            while i < n and body[i] != ",":
                i += 1
            i += 1
        else:  # bare value: up to next comma, trimmed
            comma = body.find(",", i)
            if comma == -1:
                value, i = body[i:], n
            else:
                value, i = body[i:comma], comma + 1
            value = value.strip()
        if key:
            labels[key] = value
    return labels


def parse_variable(s: str) -> tuple[str, dict[str, str]]:
    """Canonical ``name{k=v,...}`` string → (name, labels).

    The inverse of :func:`canonical_variable` (and of the reference's
    ``ToString``): lib/variable.cc:21-45 ``FromString``. Raises
    ValueError on malformed input (unterminated label block / quote,
    pair without ``=``)."""
    s = s.strip()
    if "{" not in s:
        return s, {}
    if not s.endswith("}"):
        raise ValueError(f"unterminated label block: {s!r}")
    brace = s.index("{")
    return s[:brace], parse_label_body(s[brace + 1 : -1])
