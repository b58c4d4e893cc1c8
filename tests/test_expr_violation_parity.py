"""Expression-path violations == kernel violations — paths, keywords
AND reference-identical message text.

Round-4: the kernel renders the reference's exact per-kind
``MessageFormat`` strings (``core/messages.py``, probe-verified against
the compiled reference); this differential pins the Column-expression
compiler to the SAME error surface: multiset equality of
``(json_pointer, keyword, message)`` between ``SparkValidator
.json_columns`` and ``CompiledSchema.validate_json`` on the statically
addressable schema subset (no runtime-keyed applicators — see
``_exactly_addressable``).

Documented exemption: enum/const messages over CONTAINER instances on
the variant path render the instance via ``to_json(variant)`` (sorted
keys, normalized nested number lexemes) where Jackson keeps insertion
order — ``_is_container_divergence`` accepts exactly that case.
"""

from __future__ import annotations

import json
import random
from functools import reduce

import pytest
from pyspark.sql import DataFrame, functions as F

from json_schema_spark.core.validator import (CompileConfig, compile_schema)
from json_schema_spark.plans.compiler import ExprUnsupported
from json_schema_spark.plans.runner import SparkValidator
from tests import differential_gen as G

# Round-4: runtime-keyed applicators (patternProperties /
# additionalProperties / propertyNames / items tails / additionalItems
# absorb / unevaluated*) now emit kernel-identical per-key / per-index
# entries via Check.entries (plans/compiler.py::_sub_entries), so the
# ENTIRE compilable surface is in the exact set — no exclusions.


def _instance_at(doc, pointer: str):
    if pointer == "":
        return doc
    cur = doc
    for seg in pointer.lstrip("/").split("/"):
        seg = seg.replace("~1", "/").replace("~0", "~")
        try:
            cur = cur[int(seg)] if isinstance(cur, list) else cur[seg]
        except (KeyError, IndexError, ValueError, TypeError):
            return None
    return cur


def _is_container_divergence(doc_text: str, path: str, kw: str) -> bool:
    if kw not in ("enum", "const"):
        return False
    try:
        inst = _instance_at(json.loads(doc_text), path)
    except ValueError:
        return False
    return isinstance(inst, (dict, list))


def _negzero_render(k_msg: str) -> str:
    """The expr-side rendering of a kernel message whose INSTANCE slot
    is a sign-lost negative zero. Every message template that renders
    the instance puts it in slot ``{0}`` (first occurrence), while
    SCHEMA literals (e.g. ``exclusiveMinimum: -0.0``) render later and
    keep their sign on BOTH engines (the expr path renders schema args
    driver-side via ``jackson_to_string``) — so only the first
    occurrence is rewritten, not all of them (round-5 sweep find)."""
    return k_msg.replace("-0.0", "0.0", 1)


def _is_negzero_divergence(doc_text: str, path: str, e_msg: str,
                           k_msg: str) -> bool:
    """A ``-0.0`` DECIMAL lexeme loses its sign in the variant encoding
    (DECIMAL(1,0), probe-verified), so expr messages render ``0.0``
    where Jackson prints ``-0.0`` — accept exactly that divergence when
    the addressed instance IS a negative-zero float."""
    import math
    if e_msg != _negzero_render(k_msg):
        return False
    try:
        inst = _instance_at(json.loads(doc_text), path)
    except ValueError:
        return False
    return (isinstance(inst, float) and inst == 0.0
            and math.copysign(1.0, inst) < 0)


def _compare(spark, cases, dialect, hoisted_stride=1):
    """cases: list of (schema, [doc_text, ...]). Batched into ONE Spark
    job: per-schema valid + violations columns over a shared doc DF.
    Every ``hoisted_stride``-th schema also goes through ``apply_json``
    (a second job), whose result must equal ``json_columns``'."""
    prepared = []
    for schema, docs in cases:
        try:
            v = SparkValidator(schema, dialect=dialect)
            valid_col, viol_col = v.json_columns(F.col("doc"))
        except ExprUnsupported:
            continue
        except Exception:
            continue
        kern = compile_schema(schema, dialect=dialect,
                              config=CompileConfig(dialect=dialect))
        prepared.append((schema, docs, valid_col, viol_col, kern))

    all_docs = sorted({d for _, docs, *_ in prepared for d in docs})
    idx = {d: i for i, d in enumerate(all_docs)}
    df = spark.createDataFrame(list(enumerate(all_docs)), "i long, doc string")
    cols = []
    for k, (_, _, vc, ec, _) in enumerate(prepared):
        cols.append(vc.alias(f"v{k}"))
        cols.append(ec.alias(f"e{k}"))
    rows = {r["i"]: r for r in df.select("i", *cols).collect()}
    one = df.coalesce(1)
    hoisted = reduce(DataFrame.unionAll, [
        SparkValidator(schema, dialect=dialect).apply_json(one, "doc")
        .select("i", F.lit(k).alias("k"), "valid", "violations")
        for k, (schema, *_) in enumerate(prepared) if k % hoisted_stride == 0])
    applied = {(r["k"], r["i"]): (r["valid"], r["violations"])
               for r in hoisted.collect()}

    checked = mismatches = 0
    for k, (schema, docs, _, _, kern) in enumerate(prepared):
        for d in docs:
            r = rows[idx[d]]
            inline = (r[f"v{k}"], r[f"e{k}"])
            assert applied.get((k, idx[d]), inline) == inline, (
                f"apply_json != json_columns {json.dumps(schema)} on {d}")
            k_ok, k_errs = kern.validate_json(d)
            e_ok = r[f"v{k}"]
            assert e_ok is k_ok, (
                f"VERDICT mismatch {json.dumps(schema)} on {d}: "
                f"expr={e_ok} kernel={k_ok}")
            if k_ok:
                continue
            e_errs = [(e["path"], e["keyword"], e["message"])
                      for e in (r[f"e{k}"] or [])]
            k_errs = [
                (pth, kw, _negzero_render(msg))
                if _is_negzero_divergence(d, pth, _negzero_render(msg),
                                          msg) else (pth, kw, msg)
                for pth, kw, msg in k_errs]
            exempt = [t for t in k_errs
                      if _is_container_divergence(d, t[0], t[1])]
            if exempt:
                keyset = {(t[0], t[1]) for t in exempt}
                k_cmp = sorted(t for t in k_errs if (t[0], t[1]) not in keyset)
                e_cmp = sorted(t for t in e_errs if (t[0], t[1]) not in keyset)
                # the exempt entries must still agree on path+keyword
                assert sorted((t[0], t[1]) for t in e_errs
                              if (t[0], t[1]) in keyset) \
                    == sorted((t[0], t[1]) for t in exempt)
            else:
                k_cmp, e_cmp = sorted(k_errs), sorted(e_errs)
            checked += 1
            if e_cmp != k_cmp:
                mismatches += 1
                print("VIOLATION MISMATCH", json.dumps(schema), d)
                print("  expr  :", e_cmp)
                print("  kernel:", k_cmp)
    assert mismatches == 0, f"{mismatches}/{checked} mismatching error sets"
    return checked


# ---------------------------------------------------------------- targeted

TARGETED_D7 = [
    ({"type": "integer"}, ['"x"', "1.5", "{}", "[1]", "true", "null"]),
    ({"type": ["string", "boolean"]}, ["3", "3.25", "null"]),
    ({"enum": ["a", 2, 3.5, True, None]}, ['"b"', "4", "2.0", "false"]),
    ({"const": 3.5}, ["3", '"3.5"', "[]"]),
    ({"minimum": 5}, ["4", "4.5", "-2e3"]),
    ({"maximum": 5.5}, ["6", "1e4", "5.50000001"]),
    # both zero lexemes in one batch: ±0.0 collide under lru_cache's
    # ==/hash keying but render with their sign (Double.toString)
    ({"exclusiveMinimum": 0}, ["0", "-0.0", "0.0", "-1"]),
    ({"exclusiveMaximum": 10}, ["10", "10.0", "123456"]),
    ({"multipleOf": 3}, ["4", "4.5", "1e2"]),
    ({"multipleOf": 0.5}, ["0.75", "7"]),
    ({"pattern": "^a+b$"}, ['"ab c"', '"x"', '"AB"']),
    ({"minLength": 3}, ['"ab"', '""', '"\\u00e9"']),
    ({"maxLength": 2}, ['"abc"', '"abcd"']),
    ({"required": ["a", "b", "zz"]},
     ["{}", '{"a":1}', '{"b":2,"zz":3}', '{"zz":0}']),
    ({"minProperties": 2}, ["{}", '{"a":1}']),
    ({"maxProperties": 1}, ['{"a":1,"b":2,"c":3}']),
    ({"dependencies": {"a": ["b", "c"], "x": ["y"]}},
     ['{"a":1}', '{"a":1,"x":2}', '{"a":1,"b":2,"x":0}']),
    ({"dependencies": {"a": {"minProperties": 3}}},
     ['{"a":1}', '{"a":1,"b":2}']),
    ({"minItems": 2}, ["[]", "[1]"]),
    ({"maxItems": 1}, ["[1,2]", "[1,2,3]"]),
    ({"uniqueItems": True},
     ['[1,2,1]', '["a","a"]', '[true,false,true]', '[1,1.0]',
      '[[1],[1]]', '[{"a":1},{"a":1}]']),
    ({"contains": {"type": "string"}}, ["[1,2]", "[]"]),
    ({"items": [{"type": "integer"}, {"minimum": 3}]},
     ['["x",1]', "[1,2]", '[1,3,"anything"]']),
    ({"allOf": [{"minimum": 3}, {"multipleOf": 2}]}, ["1", "5"]),
    ({"anyOf": [{"type": "string"}, {"minimum": 10}]}, ["3", "[]"]),
    ({"oneOf": [{"type": "integer"}, {"minimum": 5}]},
     ["7", '"x"', "4.5"]),
    ({"not": {"type": "integer"}}, ["3"]),
    ({"if": {"minimum": 5}, "then": {"multipleOf": 2},
      "else": {"maximum": 2}}, ["7", "3"]),
    ({"properties": {"a": {"type": "string", "minLength": 2}},
      "required": ["a"]}, ['{"a":5}', '{"a":"x"}', "{}"]),
    (False, ["1", '"x"']),
    ({"properties": {"a": False}}, ['{"a":1}', "{}"]),
    # runtime-addressed applicators (Check.entries)
    ({"patternProperties": {"^a": {"type": "integer", "minimum": 3}}},
     ['{"ab":1,"ax":"s","b":9}', '{"ab":4}', "{}", "3"]),
    ({"properties": {"a": {"type": "integer"}},
      "additionalProperties": False},
     ['{"a":1,"b":2,"c":3}', '{"a":"x"}', '{"a":1}']),
    ({"additionalProperties": {"type": "string"}},
     ['{"x":1,"y":"s"}', "{}"]),
    ({"properties": {"a": {"type": "string"}},
      "additionalProperties": {"minimum": 5}},
     ['{"a":3}', '{"a":"s","b":1}', '{"a":3,"b":9}']),
    ({"patternProperties": {"^a": {"type": "integer"}},
      "additionalProperties": {"type": "boolean"}},
     ['{"ab":"x"}', '{"ab":true}', '{"zz":1}']),
    ({"propertyNames": {"minLength": 2, "pattern": "^[ab]"}},
     ['{"a":1,"bcd":2,"zz":3}', '{"ab":1}']),
    ({"propertyNames": {"enum": ["aa", "bb"]}}, ['{"aa":1,"cc":2}']),
    ({"items": {"type": "integer"}}, ['[1,"x",2.5]', "[1,2]", '"s"']),
    ({"items": [{"type": "string"}],
      "additionalItems": {"type": "integer"}},
     ['[1,"x","y"]', '["a",1]', '["a","b"]']),
    ({"items": {"minimum": 2}, "additionalItems": {"type": "string"}},
     ["[1,5]", "[3]"]),
    ({"items": [{"type": "string"}], "additionalItems": False},
     ['["a",1,2]', '["a"]']),
    ({"items": False}, ["[1,2]", "[]"]),
    ({"items": {"properties": {"a": {"minimum": 1}}, "required": ["a"]}},
     ['[{"a":0},{}]', '[{"a":2}]']),
    # lambda scope: higher-order applicators under a property, so each
    # lambda body reads a slot column of the hoisted plan
    ({"properties": {"a": {"items": {"properties": {
        "b": {"type": "integer", "minimum": 2}}, "required": ["b"]}}}},
     ['{"a":[{"b":1},{},{"b":3}]}', '{"a":[{"b":"x"}]}', '{"a":{}}']),
    ({"properties": {"o": {"patternProperties": {"^x": {"minimum": 3}}}}},
     ['{"o":{"x1":1,"x2":5,"y":0}}', '{"o":[]}']),
    ({"properties": {"o": {"properties": {"k": {"type": "string"}},
                           "additionalProperties": {"type": "integer",
                                                    "maximum": 5}}}},
     ['{"o":{"k":1,"z":9,"w":"s"}}', '{"o":{"k":"s","z":1}}']),
    ({"properties": {"o": {"propertyNames": {"maxLength": 2}}}},
     ['{"o":{"abc":1,"a":2}}', '{"o":1}']),
    ({"properties": {"t": {"contains": {"properties": {"n": {"minimum": 5}},
                                        "required": ["n"]}}}},
     ['{"t":[{"n":1},{"m":7}]}', '{"t":[{"n":6}]}', '{"t":[]}']),
    ({"properties": {"t": {"uniqueItems": True,
                           "items": {"type": ["integer", "array"]}}}},
     ['{"t":[1,[1],1.0,[1]]}', '{"t":[2,2]}', '{"t":[3,"x"]}']),
    ({"items": {"items": {"minimum": 1}}}, ["[[0,2],[3,-1]]", "[[1]]"]),
]

TARGETED_2020 = [
    ({"dependentRequired": {"a": ["b"], "x": ["y", "z"]}},
     ['{"a":1,"x":2}', '{"x":1}', '{"a":1,"b":2,"x":0}']),
    ({"dependentSchemas": {"a": {"minProperties": 2}}}, ['{"a":1}']),
    ({"prefixItems": [{"type": "string"}, {"maximum": 2}]},
     ["[1]", '["x",5]']),
    ({"contains": {"type": "integer"}, "minContains": 2,
      "maxContains": 3}, ['[1,"x"]', "[1,2,3,4]"]),
    ({"exclusiveMinimum": 2.5}, ["2.5", "1"]),
    ({"allOf": [{"properties": {"a": {"type": "string"}}}],
      "unevaluatedProperties": False},
     ['{"a":"x","b":1}', '{"a":"x"}']),
    ({"allOf": [{"properties": {"a": True}}],
      "unevaluatedProperties": {"type": "integer"}},
     ['{"a":1,"b":"s","c":2}']),
    ({"prefixItems": [{"type": "string"}],
      "unevaluatedItems": {"maximum": 2}},
     ['["a",1,5]', '["a",1]']),
    ({"prefixItems": [{"type": "string"}], "unevaluatedItems": False},
     ['["a",1]', '["a"]']),
    ({"properties": {"a": {"prefixItems": [{"type": "string"}],
                           "unevaluatedItems": {"type": "integer",
                                                "minimum": 0}}}},
     ['{"a":["x",1,-2,"y"]}', '{"a":[1]}', '{"a":["x"]}']),
    ({"prefixItems": [{"type": "integer"}], "items": {"minimum": 2}},
     ['["x",1,3]', "[1,5]"]),
    # regression (fresh-seed sweep): a FALSE subschema inside a
    # contributing allOf member is NOT infallible coverage — the member
    # fails at runtime, its annotations drop, and unevaluated* must
    # re-validate (kernel emits the wrapper + sub entries; the
    # _infallible_cov shortcut used to swallow the whole check)
    ({"allOf": [{"properties": {"c": False}, "additionalProperties": True}],
      "unevaluatedProperties": {"type": "integer"}},
     ['{"c":"abc"}', '{"c":1,"d":"x"}', '{"d":5}']),
    ({"allOf": [{"prefixItems": [False, True], "items": False}],
      "unevaluatedItems": False},
     ['[5,"ab"]', "[]"]),
    # regression (fresh-seed sweep): a message that EMBEDS the check's
    # pointer (uniqueItems renders the duplicate's JSON pointer) must
    # have the runtime prefix substituted inside the TEXT too when the
    # check compiles under a runtime-keyed context (additionalProperties
    # re-validation here) — not just in the entry's path field
    ({"additionalProperties": {"uniqueItems": True}},
     ['{"k":[1,2,1]}', '{"x":["a","a"],"y":[true,true]}']),
    ({"patternProperties": {"^a": {"uniqueItems": True}}},
     ['{"ab":[[1],[1]]}']),
]

# same regression, 2019-09 array-form items (prefixItems is an
# UNKNOWN keyword there — coverage comes from items:false alone)
TARGETED_2019 = [
    ({"allOf": [{"prefixItems": [False, True], "items": False}],
      "unevaluatedItems": False},
     ['[5,"ab"]', "[1]"]),
    ({"allOf": [{"items": [False], "additionalItems": False}],
      "unevaluatedItems": {"type": "string"}},
     ['[5,6]', '["a"]']),
]


def test_targeted_draft7(spark):
    n = _compare(spark, TARGETED_D7, "draft7")
    assert n >= 40


def test_targeted_2020(spark):
    n = _compare(spark, TARGETED_2020, "2020-12")
    assert n >= 6


def test_targeted_2019(spark):
    n = _compare(spark, TARGETED_2019, "2019-09")
    assert n >= 3


# ------------------------------------------------------------------- fuzz

@pytest.mark.parametrize("dialect,seed", [
    ("draft7", 0), ("draft7", 1), ("2019-09", 0), ("2020-12", 0),
    ("2020-12", 1),
])
def test_fuzz_violation_parity(spark, dialect, seed):
    rng = random.Random(f"viol-parity-{dialect}-{seed}")
    cases = []
    tried = 0
    while len(cases) < 60 and tried < 400:
        tried += 1
        schema = G.schema(rng, dialect, depth=3, top=True)
        docs = [json.dumps(G.value(rng)) for _ in range(6)]
        t = G.targeted_value(rng, schema)
        docs.append(json.dumps(t))
        docs.append(json.dumps(G.mutate(rng, t, n_edits=1)))
        cases.append((schema, docs))
    checked = _compare(spark, cases, dialect, hoisted_stride=4)
    assert checked >= 20, f"only {checked} failing docs exercised"
