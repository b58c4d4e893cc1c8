"""Cross-schema $ref resolution through a pre-registered registry —
the Spark analogue of the reference's external-resolver and remote-ref
tests (``ExternalSchemaResolverTest.java``, ``JsonSchemaOrgTests``'s
localhost:1234 remotes): no network, schemas registered by URI on the
driver (SURVEY.md §2.1/§2.6)."""

import pytest

from json_schema_spark.core.registry import SchemaRegistry
from json_schema_spark.core.validator import CompileConfig, compile_schema
from json_schema_spark.plans.runner import SparkValidator


def _registry():
    reg = SchemaRegistry(default_dialect="draft7")
    reg.add({"type": "integer", "minimum": 0}, "https://example.com/nonneg.json")
    reg.add(
        {
            "$id": "https://example.com/address.json",
            "type": "object",
            "required": ["city"],
            "properties": {
                "city": {"type": "string"},
                "zip": {"$ref": "https://example.com/nonneg.json"},
            },
        },
        "https://example.com/address.json",
    )
    return reg


ROOT = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "type": "object",
    "properties": {"addr": {"$ref": "https://example.com/address.json"}},
}

CASES = [
    ({"addr": {"city": "x", "zip": 12}}, True),
    ({"addr": {"city": "x"}}, True),
    ({"addr": {"zip": 12}}, False),         # required city via remote ref
    ({"addr": {"city": "x", "zip": -1}}, False),  # transitively remote minimum
    ({"addr": {"city": 9}}, False),
    ({}, True),
]


def test_kernel_cross_schema_refs():
    reg = _registry()
    cs = compile_schema(ROOT, registry=reg, config=CompileConfig(dialect="draft7"))
    for data, expected in CASES:
        assert cs.is_valid(data) is expected, data


def test_spark_cross_schema_refs(spark):
    import json

    reg = _registry()
    v = SparkValidator(ROOT, dialect="draft7", registry=reg)
    rows = [(i, json.dumps(d)) for i, (d, _) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "i int, doc string")
    got = {r["i"]: r["valid"] for r in v.apply_json(df, "doc").collect()}
    for i, (data, expected) in enumerate(CASES):
        assert got[i] is expected, data


def test_relative_ref_against_base():
    """$id establishes the base URI; relative $refs resolve against it."""
    reg = SchemaRegistry(default_dialect="draft7")
    reg.add({"enum": ["a", "b"]}, "https://example.com/schemas/letters.json")
    root = {
        "$id": "https://example.com/schemas/root.json",
        "properties": {"x": {"$ref": "letters.json"}},
    }
    cs = compile_schema(root, registry=reg, config=CompileConfig(dialect="draft7"))
    assert cs.is_valid({"x": "a"}) is True
    assert cs.is_valid({"x": "z"}) is False


def test_unresolvable_ref_raises():
    reg = SchemaRegistry(default_dialect="draft7")
    with pytest.raises(Exception):
        cs = compile_schema(
            {"$ref": "https://example.com/missing.json"},
            registry=reg,
            config=CompileConfig(dialect="draft7"),
        )
        cs.is_valid(1)  # compile- or apply-time failure both acceptable


# ---------------------------------------------------------------------------
# Per-dialect identity-keyword registration (round 4, reference-probe
# verified against the compiled reference; SchemaPreprocessor.java:32-64,
# 99-140,195-221). Each case: (schema, instance, dialect, expected) with
# expected "t"/"f" = verdict, "c" = SchemaCompileError.
_REGISTRATION_CASES = [
    # $anchor is post-draft-7; draft-7 ignores it even malformed
    ({"definitions": {"d0": {"$anchor": "a0"}}, "type": "string"}, "x", "draft7", "t"),
    ({"definitions": {"d0": {"$anchor": 5}}, "type": "string"}, "x", "draft7", "t"),
    ({"definitions": {"d0": {"$anchor": "a0", "type": "string"}}, "$ref": "#a0"}, "x", "draft7", "c"),
    ({"$defs": {"d0": {"$anchor": 5}}, "type": "string"}, "x", "2019-09", "c"),
    ({"$defs": {"d0": {"$anchor": "a0", "type": "string"}}, "$ref": "#a0"}, 5, "2019-09", "f"),
    ({"$defs": {"d0": {"$anchor": "has space"}}, "type": "string"}, "x", "2020-12", "t"),
    # plain-name $id is draft-7-only; post-draft-7 any non-empty
    # fragment in a resource $id is a compile error, empty '#' is fine
    ({"definitions": {"d0": {"$id": "#a0", "type": "string"}}, "$ref": "#a0"}, 5, "draft7", "f"),
    ({"definitions": {"d0": {"$id": "#"}}, "type": "string"}, "x", "draft7", "c"),
    ({"definitions": {"d0": {"$id": "https://e.com/x#frag"}}, "type": "string"}, "x", "draft7", "c"),
    ({"$defs": {"d0": {"$id": "#a0", "type": "string"}}, "$ref": "#a0"}, "x", "2019-09", "c"),
    ({"$defs": {"d0": {"$id": "https://e.com/x#"}}, "type": "string"}, "x", "2019-09", "t"),
    ({"$defs": {"d0": {"$id": "https://e.com/x#/foo"}}, "type": "string"}, "x", "2020-12", "c"),
    ({"$id": "#rootfrag", "type": "string"}, "x", "2019-09", "c"),
    # non-string $id: compile error in draft-7 (reference NPE-as-checkIt),
    # silently ignored post-draft-7 (optId filters isTextual)
    ({"definitions": {"d0": {"$id": 5}}, "type": "string"}, "x", "draft7", "c"),
    ({"$defs": {"d0": {"$id": 5}}, "type": "string"}, "x", "2019-09", "t"),
    # draft-7 resource-$id beside $ref is ignored; plain $id still registers
    ({"definitions": {"d0": {"$id": "#a0", "$ref": "#/definitions/d1"},
                      "d1": {"type": "number"}}, "$ref": "#a0"}, "x", "draft7", "f"),
    # $dynamicAnchor is 2020-12-only (also a plain $ref target there)
    ({"$defs": {"d0": {"$dynamicAnchor": "a0", "type": "number"}}, "$ref": "#a0"}, 5, "2020-12", "t"),
    ({"$defs": {"d0": {"$dynamicAnchor": 5}}, "type": "string"}, "x", "2020-12", "c"),
    ({"$defs": {"d0": {"$dynamicAnchor": 5}}, "type": "string"}, "x", "2019-09", "t"),
    ({"$defs": {"d0": {"$recursiveAnchor": True, "type": "number"}}, "$ref": "#a0"}, 5, "2019-09", "c"),
    # $recursiveAnchor is 2019-09-only; malformed is a compile error there
    ({"$defs": {"d0": {"$recursiveAnchor": "x"}}, "type": "string"}, "x", "2019-09", "c"),
    ({"$defs": {"d0": {"$recursiveAnchor": "x"}}, "type": "string"}, "x", "2020-12", "t"),
    # duplicate anchors within one resource are a compile error
    ({"$defs": {"a": {"$anchor": "dup"}, "b": {"$anchor": "dup"}}, "type": "string"}, "x", "2020-12", "c"),
    # registration walks only the dialect's OWN schema containers:
    # $defs is unknown in draft7, definitions unknown post-draft-7,
    # custom keywords never walked
    ({"$defs": {"d0": {"$id": "#a0", "type": "string"}}, "$ref": "#a0"}, "x", "draft7", "c"),
    ({"definitions": {"d0": {"$anchor": "a0", "type": "number"}}, "$ref": "#a0"}, 5, "2020-12", "c"),
    ({"myCustom": {"$anchor": "a0", "type": "number"}, "$ref": "#a0"}, 5, "2020-12", "c"),
    ({"properties": {"p": {"$anchor": "a0", "type": "number"}}, "$ref": "#a0"}, "x", "2020-12", "f"),
    # a nested $recursiveAnchor marks its ENCLOSING RESOURCE
    ({"$defs": {"marker": {"$recursiveAnchor": True},
                "inner": {"$id": "https://e.com/inner", "$recursiveAnchor": True,
                          "type": "object",
                          "properties": {"a": {"$recursiveRef": "#"}}}},
      "$ref": "https://e.com/inner",
      "properties": {"extra": {"type": "string"}}}, {"a": {"extra": 5}}, "2019-09", "f"),
    ({"$defs": {"inner": {"$id": "https://e.com/inner", "$recursiveAnchor": True,
                          "type": "object",
                          "properties": {"a": {"$recursiveRef": "#"}}}},
      "$ref": "https://e.com/inner",
      "properties": {"extra": {"type": "string"}}}, {"a": {"extra": 5}}, "2019-09", "t"),
]


@pytest.mark.parametrize("schema,data,dialect,expected", [
    pytest.param(*c, id=f"{c[2]}-{i}") for i, c in enumerate(_REGISTRATION_CASES)
])
def test_identity_registration_per_dialect(schema, data, dialect, expected):
    from json_schema_spark.core.registry import SchemaCompileError as RegErr
    from json_schema_spark.core.validator import SchemaCompileError as ValErr
    try:
        cs = compile_schema(schema, config=CompileConfig(dialect=dialect))
        got = "t" if cs.is_valid(data) else "f"
    except (RegErr, ValErr):
        got = "c"
    assert got == expected, f"{schema} {data!r}"


_S2019 = "https://json-schema.org/draft/2019-09/schema"
_S2020 = "https://json-schema.org/draft/2020-12/schema"
_E = "https://example.com/"
# anyOf whose SECOND branch supplies the annotation an unevaluated*
# keyword reads: {"a":1,"b":2} is valid only if both branches run
_ANY_PROPS = {"anyOf": [{"properties": {"a": True}}, {"properties": {"b": True}}],
              "unevaluatedProperties": False}


def _any_items(draft):
    key = "prefixItems" if draft == _S2020 else "items"
    return {"anyOf": [{key: [True]}, {key: [True, True]}], "unevaluatedItems": False}


def _ref_case(draft):
    """unevaluated* only behind a $ref into other registry documents."""
    docs = {_E + "props.json": {"$schema": draft, "$id": _E + "props.json", **_ANY_PROPS},
            _E + "items.json": {"$schema": draft, "$id": _E + "items.json",
                                **_any_items(draft)}}
    root = {"$schema": draft, "properties": {
        "p": {"$ref": _E + "props.json"}, "i": {"$ref": _E + "items.json"}}}
    return docs, root, ['{"p":{"a":1,"b":2},"i":[1,2]}', '{"p":{"b":2}}',
                        '{"p":{"a":1,"c":3}}', '{"i":[1,2,3]}', '{"p":[],"i":{}}']


def _dynamic_case():
    """unevaluatedProperties only where a $dynamicRef lands: tree.json's
    child resolves, through the dynamic scope, to the root resource's
    "node" anchor."""
    docs = {_E + "tree.json": {"$schema": _S2020, "$id": _E + "tree.json",
                               "$dynamicAnchor": "node", "type": "object",
                               "properties": {"child": {"$dynamicRef": "#node"}}}}
    root = {"$schema": _S2020, "$id": _E + "strict.json", "$ref": "tree.json",
            "$defs": {"node": {"$dynamicAnchor": "node", **_ANY_PROPS}}}
    return docs, root, ['{"child":{"a":1,"b":2}}', '{"child":{"b":2},"x":0}',
                        '{"child":{"a":1,"c":3}}', '{"child":5}']


def _recursive_case():
    """2019-09's counterpart: tree.json's child reaches the root's
    unevaluatedProperties only through $recursiveRef."""
    docs = {_E + "tree2019.json": {"$schema": _S2019, "$id": _E + "tree2019.json",
                                   "$recursiveAnchor": True, "type": "object",
                                   "properties": {"child": {"$recursiveRef": "#"}}}}
    root = {"$schema": _S2019, "$id": _E + "strict2019.json",
            "$recursiveAnchor": True, "$ref": "tree2019.json", **_ANY_PROPS}
    return docs, root, ['{"child":{"a":1,"b":2},"b":0}', '{"child":{"b":{"a":1}}}',
                        '{"child":{"c":3}}', '{"a":1,"child":{"child":{"x":1}}}']


_UNEVAL_CASES = {
    "2019-09-ref": lambda: _ref_case(_S2019),
    "2020-12-ref": lambda: _ref_case(_S2020),
    "2020-12-dynamicRef": _dynamic_case,
    "2019-09-recursiveRef": _recursive_case,
}


def _uneval_case(name):
    docs, root, instances = _UNEVAL_CASES[name]()
    reg = SchemaRegistry()
    for uri, doc in docs.items():
        reg.add(doc, uri)
    return reg, root, instances


# the verdicts and errors of each case's documents
_UNEVAL_WANT = {
    '2019-09-recursiveRef': [
        (True, []),
        (True, []),
        (False, [
            ('/child/c', 'unevaluatedProperties', "unevaluated property 'c' invalid"),
            ('/child/c', 'false', 'Because schema is false'),
            ('/child', 'unevaluatedProperties', "unevaluated property 'child' invalid"),
            ('/child', 'false', 'Because schema is false'),
        ]),
        (False, [
            ('/child/child/x', 'unevaluatedProperties', "unevaluated property 'x' invalid"),
            ('/child/child/x', 'false', 'Because schema is false'),
            ('/child/child', 'unevaluatedProperties', "unevaluated property 'child' invalid"),
            ('/child/child', 'false', 'Because schema is false'),
            ('/child', 'unevaluatedProperties', "unevaluated property 'child' invalid"),
            ('/child', 'false', 'Because schema is false'),
        ]),
    ],
    '2019-09-ref': [
        (True, []),
        (True, []),
        (False, [
            ('/p/c', 'unevaluatedProperties', "unevaluated property 'c' invalid"),
            ('/p/c', 'false', 'Because schema is false'),
        ]),
        (False, [
            ('/i/2', 'unevaluatedItems', 'unevaluated item at 2 invalid'),
            ('/i/2', 'false', 'Because schema is false'),
        ]),
        (True, []),
    ],
    '2020-12-dynamicRef': [
        (True, []),
        (True, []),
        (False, [
            ('/child/c', 'unevaluatedProperties', "unevaluated property 'c' invalid"),
            ('/child/c', 'false', 'Because schema is false'),
        ]),
        (True, []),
    ],
    '2020-12-ref': [
        (True, []),
        (True, []),
        (False, [
            ('/p/c', 'unevaluatedProperties', "unevaluated property 'c' invalid"),
            ('/p/c', 'false', 'Because schema is false'),
        ]),
        (False, [
            ('/i/2', 'unevaluatedItems', 'unevaluated item at 2 invalid'),
            ('/i/2', 'false', 'Because schema is false'),
        ]),
        (True, []),
    ],
}


@pytest.mark.parametrize("name", sorted(_UNEVAL_CASES))
def test_unevaluated_behind_registry_refs_kernel(name):
    """An unevaluated* keyword reached only through a $ref into another
    registry document, or only where a $dynamicRef/$recursiveRef lands,
    still sees the annotations of every anyOf branch, in the
    collecting and the verdict-only kernel."""
    reg, root, docs = _uneval_case(name)
    want = _UNEVAL_WANT[name]
    kernel = compile_schema(root, registry=reg)
    assert [kernel.validate_json(d) for d in docs] == want
    assert [kernel.is_valid_json(d) for d in docs] == [ok for ok, _ in want]
    reg, root, _ = _uneval_case(name)
    verdicts = compile_schema(root, registry=reg, config=CompileConfig(
        collect_errors=False))
    assert [verdicts.is_valid_json(d) for d in docs] == [ok for ok, _ in want]


def test_unevaluated_behind_registry_refs_udf(spark):
    """The same cases through the kernel UDF give the same rows."""
    for name in sorted(_UNEVAL_CASES):
        reg, root, docs = _uneval_case(name)
        df = spark.createDataFrame(list(enumerate(docs)), "i int, doc string")
        out = SparkValidator(root, registry=reg, engine="udf").apply_json(df, "doc")
        got = [(r["valid"], [tuple(v) for v in r["violations"]])
               for r in out.orderBy("i").collect()]
        assert got == _UNEVAL_WANT[name], name
