"""Compile-once / apply-many JSON Schema validator (pure Python core).

This is the engine's *semantic kernel*: a JSON Schema (draft-07,
2019-09 or 2020-12) is compiled **once on the Spark driver** into a tree
of Python closures, then applied row-parallel inside Arrow-batched
pandas UDFs (see :mod:`json_schema_spark.plans.compiler` for the
Column-expression fast path that bypasses Python entirely when the
schema is expression-compilable).

Keyword semantics re-expressed from the reference engine's observable
behaviour (georgeakulov/json-schema):

* compile-time partial evaluation of keyword arguments into closures
  (``compilers/ICompiler.java:14-17`` / ``IValidator.java:9-12``);
* draft-07 ``$ref`` ignores sibling keywords
  (``compilers/RefCompiler.java:50-66``);
* scalar keywords no-op on non-matching instance types
  (``compilers/base/BaseNumberCompiler.java:28-31``);
* ``pattern`` is a regex *search*, not a full match
  (``common/regex/RegexFactory.java:19-22``);
* exact-decimal numeric comparisons, code-point lengths, deep JSON
  equality (see :mod:`json_schema_spark.core.jsonvalue`);
* annotation-driven ``additionalProperties`` / ``unevaluated*``
  (``compilers/UnevaluatedItemsCompiler.java:50-160``);
* memoized compilation with cycle support
  (``compilers/CompileContext.java:66-128``).
"""

from __future__ import annotations

import decimal
import json
import operator
import re
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from ..functions import content as content_mod
from ..functions import formats as formats_mod
from ..functions.formats import FORMAT_VALIDATORS
from .jsonvalue import (
    canon_key,
    const_equal,
    is_integerish,
    is_number,
    json_equal,
    strict_key,
    parse_json,
    to_decimal,
    type_matches,
)
from .messages import (
    jackson_as_text,
    jackson_to_string,
    java_hashset_order,
    mime_type_str,
    render_message,
)
from .registry import (SchemaCompileError, SchemaRegistry,
                       SchemaResolutionError)

__all__ = ["CompileConfig", "CompiledSchema", "compile_schema", "SchemaCompileError"]


@dataclass
class CompileConfig:
    dialect: str = "draft7"
    format_assertions: bool = False  # suite keeps format in optional/
    content_mode: str = content_mod.DEFAULT
    collect_errors: bool = True
    custom_formats: dict[str, Callable[[str], bool]] = field(default_factory=dict)
    # experimental: interpret non-array values as single-element arrays
    # where the schema wants an array (SchemaBuilder.setTryCastToArray,
    # SchemaBuilder.java:159-166; TypeCompiler.java:96-103,
    # Items2020CompilerFactory.java:100-130)
    treat_as_array: bool = False
    # custom regex dialect: pattern -> search predicate (the
    # IRegexPredicateFactory hook, common/regex/RegexFactory.java:19-22 /
    # SchemaBuilder.setRegexFactory). When set, every `pattern` /
    # `patternProperties` / format:"regex" compiles through it; the
    # Column-expression path falls back to the kernel so ONE dialect
    # governs all verdicts.
    regex_factory: Optional[Callable[[str], Callable[[str], bool]]] = None
    # custom contentEncoding decoders (name -> str -> bytes|None) and
    # contentMediaType parsers (name -> str -> parsed|None), mirroring
    # SimpleContentValidationRegistry / MimeTypeValidator registration
    # (reference CHANGES 1.2.0). Merged over the built-ins.
    content_encodings: dict[str, Callable[[str], Optional[bytes]]] = field(default_factory=dict)
    content_media_types: dict[str, Callable[[str], Optional[Any]]] = field(default_factory=dict)

    def content_level(self, dialect: str) -> str:
        if self.content_mode == content_mod.DEFAULT:
            # draft-07 asserts content keywords by default; 2019-09 and
            # 2020-12 demote them to annotations
            # (ContentTypesCompilerFactory.java:56-64).
            return content_mod.ENCODING if dialect == "draft7" else content_mod.DISABLED
        return self.content_mode


# annotation state for one instance location:
# [props:set[str]|None, item_prefix:int, item_idx:set[int]|None, items_all:bool]
def _new_ann():
    return [None, 0, None, False]


def _ann_add_props(ann, names):
    if ann[0] is None:
        ann[0] = set()
    ann[0].update(names)


def _ann_add_item_idx(ann, idxs):
    if ann[2] is None:
        ann[2] = set()
    ann[2].update(idxs)


def _ann_merge(dst, src):
    if src is None or dst is None:
        return
    if src[0]:
        _ann_add_props(dst, src[0])
    if src[1] > dst[1]:
        dst[1] = src[1]
    if src[2]:
        _ann_add_item_idx(dst, src[2])
    if src[3]:
        dst[3] = True


# Keywords the reference's unevaluated* transformers pull out of the
# per-node validator map and run INSIDE themselves, gated on the
# instance's JSON type (UnevaluatedItemsCompiler.java:22-33 AWAITED =
# EXPECTED + the in-place applicators; UnevaluatedPropertiesCompiler
# .java:24-35). The kernel merges prefixItems/additionalItems into the
# "items" validator and then/else into "if", so the tag sets are the
# reference's keyword sets modulo that merge.
_UNEVAL_ITEMS_ABSORBS = frozenset((
    "$ref", "$recursiveRef", "$dynamicRef", "items", "contains",
    "allOf", "anyOf", "oneOf", "not", "if", "dependentSchemas",
))
_UNEVAL_PROPS_ABSORBS = frozenset((
    "$ref", "$recursiveRef", "$dynamicRef", "properties",
    "allOf", "anyOf", "oneOf", "not", "if", "dependentSchemas",
))

# number bound keyword -> (message kind, instance-vs-bound test), in the
# order the keyword loop compiles them
_BOUNDS = {"minimum": ("MINIMUM", operator.ge),
           "maximum": ("MAXIMUM", operator.le),
           "exclusiveMinimum": ("EXCLUSIVE_MINIMUM", operator.gt),
           "exclusiveMaximum": ("EXCLUSIVE_MAXIMUM", operator.lt)}


def _absorb_group(absorbed, uneval_check, json_type):
    """Reference transformer semantics: the absorbed validators and the
    unevaluated* check itself run only when the instance is the right
    JSON type (list for unevaluatedItems, dict for
    unevaluatedProperties); any other instance passes the WHOLE group
    vacuously — including absorbed in-place applicators like "not" or
    "$ref" that could otherwise fail (BasePropertiesCollectorValidator
    .java:27-41 isObject() early-OK, UnevaluatedItemsCompiler.java:
    106-118 isArray() early-OK)."""

    def kv(inst, path, scope, ann, errors):
        if not isinstance(inst, json_type):
            return True
        ok = True
        for fn in absorbed:
            if not fn(inst, path, scope, ann, errors):
                ok = False
                if errors is None:
                    return False
        if not uneval_check(inst, path, scope, ann, errors):
            ok = False
        return ok

    return kv


_METADATA_KEYWORDS = frozenset(
    {
        "$schema",
        "$comment",
        "$vocabulary",
        "title",
        "description",
        "default",
        "examples",
        "deprecated",
        "readOnly",
        "writeOnly",
        "$defs",
        "definitions",
        "$id",
        "id",
        "$anchor",
        "$dynamicAnchor",
        "$recursiveAnchor",
    }
)


class _Compiler:
    """One compilation pass: schema graph -> closure tree, memoized per
    node with forward-proxy cycle support."""

    def __init__(self, registry: SchemaRegistry, config: CompileConfig):
        self.registry = registry
        self.config = config
        self._memo: dict[int, Callable] = {}
        # set once any unevaluated* validator is built; read at call
        # time, so a $ref/$dynamicRef target compiled later still turns
        # annotation tracking on for every validator of this compiler
        self._reads_ann = [False]

    # a validator is fn(inst, path, scope) -> (ok: bool,
    #   errors: list[(path, keyword, kind, args)] | None, ann: list | None)
    # (errors as _err records them)

    def compile_node(self, node: Any) -> Callable:
        key = id(node)
        hit = self._memo.get(key)
        if hit is not None:
            return hit
        cell = [None]

        def proxy(inst, path, scope, _c=cell):
            return _c[0](inst, path, scope)

        self._memo[key] = proxy
        try:
            built = self._build(node)
        except SchemaCompileError:
            raise
        except (TypeError, ValueError, ArithmeticError, AttributeError) as e:
            # malformed keyword arguments ({"maximum": []}, {"type":
            # null}, {"dependentRequired": {"a": 1}}, ...) must surface
            # as schema compile errors like the reference's checkIt
            # guards, never as raw crashes
            raise SchemaCompileError(f"malformed keyword argument: {e}") from e
        cell[0] = built
        self._memo[key] = built
        # keep the proxy working for any early captures
        return built

    # ------------------------------------------------------------ build

    def _build(self, node: Any) -> Callable:
        if node is True or node == {}:
            def always_ok(inst, path, scope):
                return True, None, None

            return always_ok
        if node is False:
            collect = self.config.collect_errors

            def always_fail(inst, path, scope):
                errs = [(path, "false", "FALSE_SCHEMA", ())] if collect else None
                return False, errs, None

            return always_fail
        if not isinstance(node, dict):
            # the reference compiles ANY non-object, non-boolean schema
            # node to an always-OK validator (Compiler.java:84-86
            # schemaOk fallthrough) — {"then": "x"} is a valid schema
            # whose then-branch never fails (reference-fuzz verified)
            def non_schema_ok(inst, path, scope):
                return True, None, None

            return non_schema_ok

        dialect = self.registry.dialect_of_node(node) or self.config.dialect
        base = self.registry.base_of(node)

        # post-draft-7: a non-string $id on a COMPILED node is a compile
        # error (IdCompiler.resolveCompilationOrder reads textValue()
        # unconditionally — null NPEs; reference-probe verified: error on
        # reachable nodes, fine inside never-compiled $defs; the
        # preprocessor's optId only filters it from resource REGISTRATION)
        if dialect != "draft7" and "$id" in node \
                and not isinstance(node["$id"], str):
            raise SchemaCompileError("the $id must be a string")

        # draft-07: $ref replaces all sibling keywords (RefCompiler.java:50-66)
        if "$ref" in node and dialect == "draft7":
            target = self.registry.resolve_ref(node["$ref"], base)
            sub = self.compile_node(target)
            return self._wrap_resource(node, sub)

        self._check_keyword_args(node, dialect)
        # Each entry: (tag, fn) where fn(inst, path, scope, ann, errors)
        # -> bool. The tag names the source keyword for the keywords the
        # reference's unevaluated* transformers absorb (see
        # _absorb_group below); untagged keywords never move.
        kws: list[tuple[Optional[str], Callable]] = []

        def add(fn, tag=None):
            kws.append((tag, fn))

        # reference keyword activity is per-dialect: $recursiveRef is a
        # 2019-09-only keyword, $dynamicRef 2020-12-only — in any other
        # draft they are UNKNOWN keywords and ignored entirely, even
        # with malformed arguments (reference-probe verified; each
        # compiler registers only its own draft's vocabulary)
        if "$ref" in node:
            add(self._kw_ref(node["$ref"], base), "$ref")
        if "$recursiveRef" in node and dialect == "2019-09":
            add(self._kw_recursive_ref(node["$recursiveRef"], base), "$recursiveRef")
        if "$dynamicRef" in node and dialect == "2020-12":
            add(self._kw_dynamic_ref(node["$dynamicRef"], base), "$dynamicRef")

        if "type" in node:
            add(self._kw_type(node["type"]))
        if "enum" in node:
            add(self._kw_enum(node["enum"]))
        if "const" in node:
            add(self._kw_const(node["const"]))
        bounds = [(kw, node[kw]) for kw in _BOUNDS if kw in node]
        if bounds:
            add(self._kw_number_bounds(bounds))
        if "multipleOf" in node:
            add(self._kw_multiple_of(node["multipleOf"]))
        if "pattern" in node:
            add(self._kw_pattern(node["pattern"]))
        if "minLength" in node or "maxLength" in node:
            add(self._kw_length(node.get("minLength"), node.get("maxLength")))
        if "format" in node:
            fv = self._kw_format(
                node["format"], self.registry.format_assertion_of(node)
            )
            if fv is not None:
                add(fv)
        level = self.config.content_level(dialect)
        if level != content_mod.DISABLED and (
            "contentEncoding" in node or "contentMediaType" in node or "contentSchema" in node
        ):
            add(self._kw_content(node, level))

        if "required" in node and node["required"]:
            add(self._kw_required(node["required"]))
        if "minProperties" in node or "maxProperties" in node:
            add(self._kw_prop_count(node.get("minProperties"), node.get("maxProperties")))
        # dependentRequired / dependentSchemas / unevaluated* are
        # post-draft-7 keywords: in draft7 the reference ignores them
        # (unknown keyword), even with malformed arguments; the dual-form
        # "dependencies" stays active in EVERY draft (reference-probe
        # verified: {"dependencies": {"a": ["b"]}} rejects in 2020-12)
        post7 = dialect != "draft7"
        if "dependentRequired" in node and post7:
            add(self._kw_dependent_required(node["dependentRequired"]))
        if "dependencies" in node:
            for fn in self._kw_dependencies(node["dependencies"]):
                add(fn)
        if "propertyNames" in node:
            add(self._kw_property_names(node["propertyNames"]))
        if "properties" in node or "patternProperties" in node or "additionalProperties" in node:
            add(
                self._kw_properties_block(
                    node.get("properties"),
                    node.get("patternProperties"),
                    node.get("additionalProperties"),
                ),
                "properties",
            )

        if dialect == "2020-12":
            if "prefixItems" in node or "items" in node:
                add(self._kw_items_2020(node.get("prefixItems"), node.get("items")), "items")
        else:
            if "items" in node or "additionalItems" in node:
                add(self._kw_items_legacy(node.get("items"), node.get("additionalItems")), "items")
        if "contains" in node or "minContains" in node or "maxContains" in node:
            if "contains" in node:
                add(
                    self._kw_contains(
                        node["contains"],
                        node.get("minContains"),
                        node.get("maxContains"),
                        dialect,
                    ),
                    "contains",
                )
        if "minItems" in node or "maxItems" in node:
            add(self._kw_item_count(node.get("minItems"), node.get("maxItems")))
        if node.get("uniqueItems") is True:
            add(self._kw_unique_items())

        if "allOf" in node:
            add(self._kw_all_of(self._schemas_array("allOf", node["allOf"])), "allOf")
        if "anyOf" in node:
            add(self._kw_any_of(self._schemas_array("anyOf", node["anyOf"])), "anyOf")
        if "oneOf" in node:
            add(self._kw_one_of(self._schemas_array("oneOf", node["oneOf"])), "oneOf")
        if "not" in node:
            add(self._kw_not(node["not"]), "not")
        if "if" in node:
            add(self._kw_if_then_else(node.get("if"), node.get("then"), node.get("else")), "if")
        if "dependentSchemas" in node and post7:
            add(self._kw_dependent_schemas(node["dependentSchemas"]), "dependentSchemas")

        # transformers last (Compiler.java:91-96, order MAX_INT):
        # unevaluated* ABSORB their annotation sources and every in-place
        # applicator — for an instance of the wrong JSON type the whole
        # absorbed group is SKIPPED, so e.g. {"not": {...},
        # "unevaluatedItems": false} accepts any non-array no matter what
        # "not" says (UnevaluatedItemsCompiler.java:106-118,
        # BasePropertiesCollectorValidator.java:27-41; reference-probe
        # verified for both drafts). unevaluatedItems transforms first,
        # so when both are present it owns the shared in-place keywords.
        if ("unevaluatedItems" in node or "unevaluatedProperties" in node) and post7:
            self._reads_ann[0] = True
        if "unevaluatedItems" in node and post7:
            moved = [fn for tag, fn in kws if tag in _UNEVAL_ITEMS_ABSORBS]
            kws = [(tag, fn) for tag, fn in kws if tag not in _UNEVAL_ITEMS_ABSORBS]
            add(_absorb_group(
                moved, self._kw_unevaluated_items(node["unevaluatedItems"]), list))
        if "unevaluatedProperties" in node and post7:
            moved = [fn for tag, fn in kws if tag in _UNEVAL_PROPS_ABSORBS]
            kws = [(tag, fn) for tag, fn in kws if tag not in _UNEVAL_PROPS_ABSORBS]
            add(_absorb_group(
                moved, self._kw_unevaluated_properties(node["unevaluatedProperties"]), dict))

        collect = self.config.collect_errors

        def schema_validator(inst, path, scope, _kws=tuple(fn for _, fn in kws),
                             _reads_ann=self._reads_ann):
            # annotations only feed unevaluated*; without a reader every
            # keyword runs with ann=None, and anyOf may stop early
            ann = _new_ann() if _reads_ann[0] else None
            errors = [] if collect else None
            ok = True
            for kv in _kws:
                if not kv(inst, path, scope, ann, errors):
                    ok = False
                    if not collect:
                        return False, None, None
            return ok, errors, (ann if ok else None)

        return self._wrap_resource(node, schema_validator)

    def _wrap_resource(self, node: Any, fn: Callable) -> Callable:
        """Push this schema resource's URI onto the dynamic scope when
        entering it (drives $dynamicRef / $recursiveRef resolution)."""
        base = self.registry.base_of(node)
        if base and self.registry.docs.get(base) is node:
            def entering(inst, path, scope, _fn=fn, _uri=base):
                if not scope or scope[-1] != _uri:
                    scope = scope + (_uri,)
                return _fn(inst, path, scope)

            return entering
        return fn

    # ------------------------------------------------------- subschema

    def _sub(self, node: Any) -> Callable:
        return self.compile_node(node)

    def _err(self, errors, path, kw, kind, *args):
        """Record an error as its message kind (a ``MESSAGE_TEMPLATES``
        key, or None for the literal text in ``args[0]``) and raw
        arguments; ``CompiledSchema.validate`` renders the ones that
        reach the output."""
        if errors is not None:
            errors.append((path, kw, kind, args))

    # ------------------------------------------------------- references

    def _kw_ref(self, ref: str, base: str) -> Callable:
        target = self.registry.resolve_ref(ref, base)
        sub = self._sub(target)

        def kv(inst, path, scope, ann, errors, _sub=sub):
            ok, errs, sub_ann = _sub(inst, path, scope)
            if ok:
                _ann_merge(ann, sub_ann)
            elif errs:
                errors.extend(errs) if errors is not None else None
            else:
                self._err(errors, path, "$ref", None, "referenced schema failed")
            return ok

        return kv

    def _kw_recursive_ref(self, ref: str, base: str) -> Callable:
        if ref != "#":
            return self._kw_ref(ref, base)
        static_target = self.registry.docs.get(base)
        if static_target is None:
            raise SchemaCompileError(f"$recursiveRef with unknown base {base!r}")
        static_sub = self._sub(static_target)
        dynamic = base in self.registry.recursive_roots
        registry = self.registry
        compile_node = self.compile_node

        def kv(inst, path, scope, ann, errors):
            sub = static_sub
            if dynamic:
                target = registry.resolve_recursive(scope)
                if target is not None:
                    sub = compile_node(target)
            ok, errs, sub_ann = sub(inst, path, scope)
            if ok:
                _ann_merge(ann, sub_ann)
            elif errs and errors is not None:
                errors.extend(errs)
            elif errors is not None:
                errors.append((path, "$recursiveRef", None, ("referenced schema failed",)))
            return ok

        return kv

    def _kw_dynamic_ref(self, ref: str, base: str) -> Callable:
        target = self.registry.resolve_ref(ref, base)
        static_sub = self._sub(target)
        from .registry import _urldecode_fragment
        frag = _urldecode_fragment(ref.partition("#")[2].partition("#")[0])
        is_anchor = bool(frag) and not frag.startswith("/")
        dyn_name = frag if is_anchor and isinstance(target, dict) and target.get("$dynamicAnchor") == frag else None
        registry = self.registry
        compile_node = self.compile_node

        def kv(inst, path, scope, ann, errors):
            sub = static_sub
            if dyn_name is not None:
                t = registry.resolve_dynamic(dyn_name, scope)
                if t is not None:
                    sub = compile_node(t)
            ok, errs, sub_ann = sub(inst, path, scope)
            if ok:
                _ann_merge(ann, sub_ann)
            elif errs and errors is not None:
                errors.extend(errs)
            elif errors is not None:
                errors.append((path, "$dynamicRef", None, ("referenced schema failed",)))
            return ok

        return kv

    # ------------------------------------------------------- scalar kws

    def _kw_type(self, arg: Any) -> Callable:
        types = tuple([arg] if isinstance(arg, str) else arg)
        for t in types:
            if t not in ("null", "boolean", "string", "number", "integer", "array", "object"):
                raise SchemaCompileError(f"unknown type {t!r}")
        # treat-as-array: "array" accepts any node (TypeCompiler.java:96-103)
        if self.config.treat_as_array and "array" in types:
            return lambda inst, path, scope, ann, errors: True
        names = frozenset(types)

        def kv(inst, path, scope, ann, errors, _arg=arg):
            name = _EXACT_TYPE_NAMES.get(type(inst))
            if name is None:
                if any(type_matches(inst, t) for t in types):
                    return True
            elif name in names:
                return True
            # TypeCompiler.java:61-66: args = (instance.asText(), the
            # raw type keyword node)
            self._err(errors, path, "type", "TYPE", inst, _arg)
            return False

        return kv

    def _kw_enum(self, values: list) -> Callable:
        try:
            keys = frozenset(canon_key(v) for v in values)
        except TypeError as e:  # pragma: no cover
            raise SchemaCompileError(str(e)) from e

        def kv(inst, path, scope, ann, errors, _values=values):
            try:
                if canon_key(inst) in keys:
                    return True
            except TypeError:
                pass
            # EnumCompiler.java:57: args = (node, the enum array node)
            self._err(errors, path, "enum", "ENUM", inst, _values)
            return False

        return kv

    def _kw_const(self, value: Any) -> Callable:
        # reference semantics (Utils.checkEquality): strict Jackson
        # equality + top-level-number BigDecimal tolerance; nested
        # numbers stay family-strict (1 vs 1.0 differ inside objects)
        def kv(inst, path, scope, ann, errors):
            if const_equal(inst, value):
                return True
            # ConstCompiler.java:37: args = (node, schemaNode)
            self._err(errors, path, "const", "CONST", inst, value)
            return False

        return kv

    def _kw_number_bounds(self, bounds: list) -> Callable:
        """``minimum``/``maximum``/``exclusiveMinimum``/``exclusiveMaximum``
        of one subschema as one validator: the instance is type-checked
        and converted once, and the bounds are tested in keyword order."""
        # draft-04 boolean exclusive* forms are not supported (reference
        # supports drafts 7+ only)
        tests = tuple((kw, *_BOUNDS[kw], to_decimal(arg), arg) for kw, arg in bounds)

        def kv(inst, path, scope, ann, errors):
            if not is_number(inst):
                return True  # type-gated no-op (BaseNumberCompiler.java:28-31)
            v = to_decimal(inst)
            ok = True
            for kw, kind, op, bound, arg in tests:
                if not op(v, bound):
                    if errors is None:
                        return False
                    # MaximumCompiler.java:33 etc: args = (instance
                    # node, schema node)
                    self._err(errors, path, kw, kind, inst, arg)
                    ok = False
            return ok

        return kv

    def _kw_multiple_of(self, arg: Any) -> Callable:
        m = to_decimal(arg)
        if m <= 0:
            raise SchemaCompileError("multipleOf must be > 0")

        def kv(inst, path, scope, ann, errors):
            if not is_number(inst):
                return True
            try:
                v = to_decimal(inst)
                try:
                    ok = v % m == 0
                except decimal.InvalidOperation:
                    if not v.is_finite():
                        raise
                    # DivisionImpossible: the integer quotient has more
                    # digits than the 28-digit default context holds;
                    # retry with a precision that covers it, exact like
                    # the reference's BigDecimal.divideAndRemainder
                    with decimal.localcontext() as ctx:
                        ctx.prec = v.adjusted() - m.adjusted() + 2
                        ok = v % m == 0
            except Exception:
                ok = False
            if ok:
                return True
            # MultipleOfCompiler.java:44: args = (node, schemaNode)
            self._err(errors, path, "multipleOf", "MULTIPLE_OF", inst, arg)
            return False

        return kv

    def _compile_regex(self, pattern: str) -> "re.Pattern":
        try:
            # the Java regex dialect bridge (the reference's dialect —
            # functions.java_regex): JVM-exact \p tables, anchoring,
            # and class parsing
            return formats_mod.compile_java_pattern(pattern)
        except formats_mod.JavaOnlyRegex as e:
            raise SchemaCompileError(
                f"pattern {pattern!r} uses a Java-only regex construct "
                f"the Python kernel cannot evaluate ({e}); keep the "
                f"schema on the expression path (Spark rlike runs the "
                f"Java engine natively) or configure a custom regex "
                f"dialect") from e
        except formats_mod.JavaRegexError as e:
            raise SchemaCompileError(f"bad regex {pattern!r}: {e}") from e

    def _regex_pred(self, pattern: str) -> Callable[[str], bool]:
        """Search predicate for a schema regex — the custom regex
        dialect when configured (RegexFactory hook), Python `re`
        otherwise (Unicode classes by default, like the reference's
        UNICODE_CHARACTER_CLASS flags)."""
        fac = self.config.regex_factory
        if fac is not None:
            try:
                pred = fac(pattern)
            except Exception as e:
                raise SchemaCompileError(
                    f"custom regex dialect rejects {pattern!r}: {e}") from e
            return pred
        rx = self._compile_regex(pattern)
        return lambda s: rx.search(s) is not None

    def _kw_pattern(self, pattern: str) -> Callable:
        pred = self._regex_pred(pattern)

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, str):
                return True
            if pred(inst):  # search semantics, not full match
                return True
            # PatternCompiler.java:44: args = (node.asText(), pattern) —
            # both raw strings, no JSON quoting
            self._err(errors, path, "pattern", "PATTERN", inst, pattern)
            return False

        return kv

    def _kw_length(self, lo: Any, hi: Any) -> Callable:
        lo_i = int(lo) if lo is not None else None
        hi_i = int(hi) if hi is not None else None

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, str):
                return True
            n = len(inst)  # Python str length == code points
            # BaseLengthCompiler.java:49: args = (limit, codePointCount)
            # — two args against three placeholders, so {2} stays
            # literal (MessageFormat drops nothing silently)
            if lo_i is not None and n < lo_i:
                self._err(errors, path, "minLength", "MIN_LENGTH", lo_i, n)
                return False
            if hi_i is not None and n > hi_i:
                self._err(errors, path, "maxLength", "MAX_LENGTH", hi_i, n)
                return False
            return True

        return kv

    def _kw_format(self, name: str, node_assert: bool = False) -> Optional[Callable]:
        fn = self.config.custom_formats.get(name)
        # node_assert: the node's meta-schema declares the 2020-12
        # format-assertion vocabulary (Dialect.java:45-49 switch)
        assert_on = self.config.format_assertions or node_assert or fn is not None
        if not assert_on:
            return None
        if fn is None and name == "regex" and self.config.regex_factory is not None:
            # format:"regex" = "compilable by the regex dialect in use"
            # (FormatCompiler.java:113-121 routes through the factory)
            fac = self.config.regex_factory

            def _regex_ok(s: str) -> bool:
                try:
                    fac(s)
                    return True
                except Exception:
                    return False

            fn = _regex_ok
        fn = fn or FORMAT_VALIDATORS.get(name)
        if fn is None:
            return None  # unknown format: annotation only

        def kv(inst, path, scope, ann, errors, _fn=fn):
            if not isinstance(inst, str):
                return True
            if _fn(inst):
                return True
            # FormatCompiler.java:109: args = (instance NODE, format) —
            # the node renders with its JSON quotes
            self._err(errors, path, "format", "FORMAT", inst, name)
            return False

        return kv

    def _kw_content(self, node: dict, level: str) -> Callable:
        encoding = node.get("contentEncoding")
        media = node.get("contentMediaType")
        schema = node.get("contentSchema")
        sub = self._sub(schema) if schema is not None and level == content_mod.ENCODING_AND_SCHEMA else None

        enc_over = self.config.content_encodings
        mt_over = self.config.content_media_types

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, str):
                return True
            text = inst
            if encoding is not None:
                ok, text = content_mod.decode_content(encoding, inst, enc_over)
                if not ok:
                    # ContentUtils.java:36-41: arg = the contentEncoding
                    # keyword value
                    self._err(errors, path, "contentEncoding",
                              "CONTENT_ENCODING", encoding)
                    return False
            parsed = None
            have_parsed = False
            if media is not None:
                if text is None:
                    self._err(errors, path, "contentMediaType",
                              "CONTENT_TYPE", media)
                    return False
                ok, parsed = content_mod.parse_media_type(media, text, mt_over)
                if not ok:
                    # ContentUtils.java:46-51: arg = the parsed MimeType
                    # OBJECT, rendered via its debug toString()
                    self._err(errors, path, "contentMediaType",
                              "CONTENT_TYPE", media)
                    return False
                # JSON null parses to None and must still reach the
                # subschema — gate on "a parser exists", not on the value
                have_parsed = content_mod.is_known_media(media, mt_over)
            if sub is not None and have_parsed:
                ok, errs, _ = sub(parsed, path, scope)
                if not ok:
                    if errs and errors is not None:
                        errors.extend(errs)
                    self._err(errors, path, "contentSchema", "CONTENT_SCHEMA")
                    return False
            return True

        return kv

    # ------------------------------------------------------- object kws

    def _kw_required(self, names: list) -> Callable:
        req = tuple(dict.fromkeys(names))
        req_iter = tuple(java_hashset_order(list(req)))

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, dict):
                return True
            if errors is None:
                return all(n in inst for n in req)
            missing = [n for n in req_iter if n not in inst]
            if not missing:
                return True
            # RequiredCompiler.java:40,52-54: ONE error joining every
            # missing name — in the HashSet's iteration order
            # (Collectors.toSet()), not declaration order
            self._err(errors, path, "required", "REQUIRED", ",".join(missing))
            return False

        return kv

    def _kw_prop_count(self, lo: Any, hi: Any) -> Callable:
        lo_i = int(lo) if lo is not None else None
        hi_i = int(hi) if hi is not None else None

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, dict):
                return True
            n = len(inst)
            # Min/MaxPropertiesCompiler.java:41-43: args = (limit, size)
            if lo_i is not None and n < lo_i:
                self._err(errors, path, "minProperties", "MIN_PROPERTIES", lo_i, n)
                return False
            if hi_i is not None and n > hi_i:
                self._err(errors, path, "maxProperties", "MAX_PROPERTIES", hi_i, n)
                return False
            return True

        return kv

    def _kw_dependent_required(self, arg: dict, kw: str = "dependentRequired") -> Callable:
        deps = {k: tuple(v) for k, v in arg.items()}

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, dict):
                return True
            violated = [k for k, needs in deps.items()
                        if k in inst and any(n not in inst for n in needs)]
            if not violated:
                return True
            if kw == "dependentRequired":
                # DependentRequiredCompiler.java:55-59: ONE error
                # joining the TRIGGERING property of every violated
                # rule (not the missing names)
                self._err(errors, path, kw, "DEPENDENT_REQUIRED",
                          ",".join(violated))
            else:
                # draft-7 dual form (DependenciesCompiler.java:148-153):
                # one error PER violated triggering property
                for k in violated:
                    self._err(errors, path, kw, "DEPENDENCIES", k)
            return False

        return kv

    def _kw_dependencies(self, arg: dict) -> list[Callable]:
        """draft-07 dependencies: array form == dependentRequired,
        schema/bool form == dependentSchemas
        (compilers/DependenciesCompiler.java:44-160)."""
        out = []
        req_form = {k: v for k, v in arg.items() if isinstance(v, list)}
        sch_form = {k: v for k, v in arg.items() if isinstance(v, (dict, bool))}
        if req_form:
            # keep the SOURCE keyword: the reference's error kind for
            # the draft-7 dual form is DEPENDENCIES, not
            # DEPENDENT_REQUIRED (DependenciesCompiler.java, error-kind
            # differential verified)
            out.append(self._kw_dependent_required(req_form, kw="dependencies"))
        if sch_form:
            out.append(self._kw_dependent_schemas(sch_form, kw="dependencies"))
        return out

    def _kw_property_names(self, schema: Any) -> Callable:
        sub = self._sub(schema)

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, dict):
                return True
            ok = True
            for k in inst:
                s_ok, errs, _ = sub(k, path + (k,), scope)
                if not s_ok:
                    if errors is None:
                        return False
                    ok = False
                    self._err(errors, path + (k,), "propertyNames", None,
                              f"invalid property name {k!r}")
                    if errs:
                        errors.extend(errs)
            return ok

        return kv

    def _kw_properties_block(
        self, props: Optional[dict], patterns: Optional[dict], additional: Any
    ) -> Callable:
        """properties + patternProperties + additionalProperties fused —
        the static set-difference resolution of SURVEY §4.1 (the
        reference does this with an annotation-consuming transformer,
        ``compilers/AdditionalPropertiesCompiler.java:34-95``)."""
        prop_subs = {k: self._sub(v) for k, v in (props or {}).items()}
        pat_subs = [(self._regex_pred(p), self._sub(v)) for p, v in (patterns or {}).items()]
        add_sub = self._sub(additional) if additional is not None else None

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, dict):
                return True
            ok = True
            evaluated = []
            for k, v in inst.items():
                matched = False
                succeeded = False
                sub = prop_subs.get(k)
                if sub is not None:
                    matched = True
                    s_ok, errs, _ = sub(v, path + (k,), scope)
                    if not s_ok:
                        ok = False
                        if errors is None:
                            return False
                        if errs:
                            errors.extend(errs)
                    else:
                        succeeded = True
                for rx, psub in pat_subs:
                    if rx(k):
                        matched = True
                        s_ok, errs, _ = psub(v, path + (k,), scope)
                        if not s_ok:
                            ok = False
                            if errors is None:
                                return False
                            if errs:
                                errors.extend(errs)
                        else:
                            succeeded = True
                if matched:
                    evaluated.append(k)
                    # reference absorb (AdditionalPropertiesCompiler
                    # .java:75-95): per-FIELD success annotations gate
                    # the finisher, so a declared key whose every
                    # matching subschema FAILED is re-validated against
                    # additionalProperties and those errors surface too.
                    # Error-surface only — the block already failed, the
                    # verdict cannot change (fast path skips this).
                    if (not succeeded and add_sub is not None
                            and errors is not None):
                        s_ok, errs, _ = add_sub(v, path + (k,), scope)
                        if not s_ok:
                            self._err(errors, path + (k,), "additionalProperties",
                                      None, f"additional property {k!r} invalid")
                            if errs:
                                errors.extend(errs)
                elif add_sub is not None:
                    s_ok, errs, _ = add_sub(v, path + (k,), scope)
                    if not s_ok:
                        ok = False
                        if errors is None:
                            return False
                        self._err(errors, path + (k,), "additionalProperties", None,
                                  f"additional property {k!r} invalid")
                        if errs:
                            errors.extend(errs)
                    else:
                        evaluated.append(k)
            if ok and ann is not None and evaluated:
                _ann_add_props(ann, evaluated)
            return ok

        return kv

    # -------------------------------------------------------- array kws

    def _kw_items_2020(self, prefix: Optional[list], items: Any) -> Callable:
        prefix_subs = [self._sub(s) for s in (prefix or [])]
        items_sub = self._sub(items) if items is not None else None
        np = len(prefix_subs)
        taa = self.config.treat_as_array

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, list):
                if not taa:
                    return True
                # ToArrayWrapper.tryWrap (Items2020CompilerFactory.java:
                # 54-60,100-130) wraps ONLY inside the items validator,
                # which then validates indices FROM len(prefixItems):
                # prefixItems itself no-ops on non-arrays, so a scalar
                # under a schema with any prefix is vacuously valid
                # (reference treat-as-array differential verified)
                if items_sub is None or np > 0:
                    return True
                s_ok, errs, _ = items_sub(inst, path + (0,), scope)
                if not s_ok:
                    if errors is not None and errs:
                        errors.extend(errs)
                    return False
                return True
            ok = True
            for i, sub in enumerate(prefix_subs):
                if i >= len(inst):
                    break
                s_ok, errs, _ = sub(inst[i], path + (i,), scope)
                if not s_ok:
                    ok = False
                    if errors is None:
                        return False
                    if errs:
                        errors.extend(errs)
            if items_sub is not None:
                for i in range(np, len(inst)):
                    s_ok, errs, _ = items_sub(inst[i], path + (i,), scope)
                    if not s_ok:
                        ok = False
                        if errors is None:
                            return False
                        if errs:
                            errors.extend(errs)
            if ok and ann is not None:
                if prefix_subs:
                    ann[1] = max(ann[1], min(np, len(inst)))
                if items_sub is not None:
                    ann[3] = True
            return ok

        return kv

    def _kw_items_legacy(self, items: Any, additional: Any) -> Callable:
        """draft-07 / 2019-09 items (single-schema or tuple form) +
        additionalItems (compilers/v2019/Items2019Compiler.java:33-106,
        AdditionalItemsCompiler.java:38-96)."""
        if isinstance(items, list):
            tuple_subs = [self._sub(s) for s in items]
            single_sub = None
        else:
            tuple_subs = None
            single_sub = self._sub(items) if items is not None else None
        # additionalItems is absorbed by items in ANY form (the 2019
        # AdditionalItemsCompiler transform pulls "items" regardless of
        # shape and is dropped when items is absent); with single-form
        # items it only ever re-validates FAILED indices (error surface)
        add_sub = self._sub(additional) if additional is not None and items is not None else None
        nt = len(tuple_subs) if tuple_subs else 0

        def absorb(i, v, path, scope, errors):
            # reference absorb (v2019/AdditionalItemsCompiler.java:71-96):
            # per-INDEX success annotations gate the finisher, so a
            # position whose items subschema FAILED is re-validated
            # against additionalItems and those errors surface too.
            # Error-surface only — the verdict is already false.
            s_ok, errs, _ = add_sub(v, path + (i,), scope)
            if not s_ok:
                self._err(errors, path + (i,), "additionalItems", None,
                          f"item {i} invalid against additionalItems")
                if errs:
                    errors.extend(errs)

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, list):
                return True
            ok = True
            if single_sub is not None:
                for i, v in enumerate(inst):
                    s_ok, errs, _ = single_sub(v, path + (i,), scope)
                    if not s_ok:
                        ok = False
                        if errors is None:
                            return False
                        if errs:
                            errors.extend(errs)
                        if add_sub is not None:
                            absorb(i, v, path, scope, errors)
                if ok and ann is not None:
                    ann[3] = True
                return ok
            if tuple_subs is not None:
                for i, sub in enumerate(tuple_subs):
                    if i >= len(inst):
                        break
                    s_ok, errs, _ = sub(inst[i], path + (i,), scope)
                    if not s_ok:
                        ok = False
                        if errors is None:
                            return False
                        if errs:
                            errors.extend(errs)
                        if add_sub is not None:
                            absorb(i, inst[i], path, scope, errors)
                if add_sub is not None:
                    for i in range(nt, len(inst)):
                        s_ok, errs, _ = add_sub(inst[i], path + (i,), scope)
                        if not s_ok:
                            ok = False
                            if errors is None:
                                return False
                            if errs:
                                errors.extend(errs)
                if ok and ann is not None:
                    ann[1] = max(ann[1], min(nt, len(inst)))
                    if add_sub is not None:
                        ann[3] = True
            return ok

        return kv

    def _kw_contains(self, schema: Any, min_c: Any, max_c: Any, dialect: str) -> Callable:
        sub = self._sub(schema)
        lo = int(min_c) if min_c is not None and dialect != "draft7" else None
        hi = int(max_c) if max_c is not None and dialect != "draft7" else None
        lo_eff = 1 if lo is None else lo
        # The reference counts contains-matched indices as evaluated in
        # BOTH 2019-09 and 2020-12 (UnevaluatedItemsCompiler.java:22-24
        # lists "contains" unconditionally; its vocabularies span
        # DRAFT_2019_09_CORE too) — the strict 2019-09 spec excludes
        # contains, but the reference is the authority here.
        track_idx = dialect != "draft7"

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, list):
                return True
            matched = [i for i, v in enumerate(inst) if sub(v, path + (i,), scope)[0]]
            n = len(matched)
            ok = n >= lo_eff and (hi is None or n <= hi)
            if ok:
                if ann is not None and matched and track_idx:
                    _ann_add_item_idx(ann, matched)
                return True
            # ContainsCompilerFactory.java:84-88: args = (bound, matched)
            if n < lo_eff:
                self._err(errors, path, "contains", "CONTAINS_MIN", lo_eff, n)
            else:
                self._err(errors, path, "maxContains", "CONTAINS_MAX", hi, n)
            return False

        return kv

    def _kw_item_count(self, lo: Any, hi: Any) -> Callable:
        lo_i = int(lo) if lo is not None else None
        hi_i = int(hi) if hi is not None else None

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, list):
                return True
            n = len(inst)
            if lo_i is not None and n < lo_i:
                # MinItemsCompiler.java:39: args = (limit, size)
                self._err(errors, path, "minItems", "MIN_ITEMS", lo_i, n)
                return False
            if hi_i is not None and n > hi_i:
                # MaxItemsCompiler.java:35 passes the KEYWORD as {0}
                # and the limit as {1} — the actual size arg has no
                # placeholder. Faithfully odd.
                self._err(errors, path, "maxItems", "MAX_ITEMS",
                          "maxItems", hi_i, n)
                return False
            return True

        return kv

    def _kw_unique_items(self) -> Callable:
        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, list):
                return True
            seen = set()
            for i, v in enumerate(inst):
                # reference semantics: HashSet<JsonNode> — STRICT
                # Jackson equality, number family part of identity at
                # every depth (UniqueItemsCompiler.java:42-46); [1, 1.0]
                # is UNIQUE here even though enum treats them equal
                k = strict_key(v)
                if k in seen:
                    # UniqueItemsCompiler.java:46: arg = the duplicate
                    # item's instance JsonPointer
                    self._err(errors, path, "uniqueItems", "UNIQUE_ITEMS",
                              path + (i,))
                    return False
                seen.add(k)
            return True

        return kv


    # ---------------------------------------------- compile-time guards

    def _check_keyword_args(self, node: dict, dialect: str) -> None:
        """Mirror of the reference's checkIt compile guards (each cited
        at its compiler): malformed keyword ARGUMENTS are schema
        compile errors, even though malformed SUBSCHEMAS are silently
        always-valid (Compiler.java:84-86). Pinned by
        ``test_reference_differential.test_schema_compile_rejection_agrees``."""

        def bad(kw: str, msg: str):
            raise SchemaCompileError(f"the value of {kw!r} {msg}")

        def chk_int(kw: str):
            v = node[kw]
            if isinstance(v, bool) or not is_number(v):
                bad(kw, "must be an integer")
            d = to_decimal(v)
            if not d.is_finite() or d != d.to_integral_value():
                bad(kw, "must be an integer")  # Utils.getCheckedInteger
            if d < 0:
                bad(kw, "must be non-negative")  # e.g. MinItemsCompiler:33

        # arg checks only fire for keywords ACTIVE in the node's dialect
        # (a compiler's checkIt never runs if the keyword is unknown to
        # the draft's vocabularies — reference-probe verified with e.g.
        # draft7 {"dependentSchemas": 5} and 2020-12 {"$recursiveRef": 5})
        post7 = dialect != "draft7"
        int_kws = ["minLength", "maxLength", "minItems", "maxItems",
                   "minProperties", "maxProperties"]
        if post7:
            int_kws += ["minContains", "maxContains"]
        for kw in int_kws:
            if kw in node:
                chk_int(kw)
        for kw in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"):
            if kw in node and (isinstance(node[kw], bool) or not is_number(node[kw])
                               or not to_decimal(node[kw]).is_finite()):
                # non-finite (a float literal beyond double range, e.g.
                # 1e309): the reference's BigDecimal conversion throws
                # at compile (reference-probe verified 'c')
                bad(kw, "must be a finite number")  # BaseNumberCompiler:22
        if "multipleOf" in node:
            v = node["multipleOf"]
            if (isinstance(v, bool) or not is_number(v)
                    or not to_decimal(v).is_finite() or to_decimal(v) <= 0):
                bad("multipleOf", "must be a positive finite number")  # MultipleOfCompiler:35-38
        if "uniqueItems" in node and not isinstance(node["uniqueItems"], bool):
            bad("uniqueItems", "must be a boolean")  # UniqueItemsCompiler:36
        ref_kws = ["$ref", "pattern"]
        if dialect == "2019-09":
            ref_kws.append("$recursiveRef")
        elif dialect == "2020-12":
            ref_kws.append("$dynamicRef")
        for kw in ref_kws:
            if kw in node and not isinstance(node[kw], str):
                bad(kw, "must be a string")  # RefCompiler:34, PatternCompiler
        if "type" in node and not isinstance(node["type"], (str, list)):
            bad("type", "must be a string or array")  # TypeCompiler checkIt
        if "enum" in node:
            v = node["enum"]
            if not isinstance(v, list) or not v:
                bad("enum", "must be a non-empty array")  # EnumCompiler:41-42
            seen = set()
            for m in v:
                if is_number(m) and not isinstance(m, bool) and \
                        not to_decimal(m).is_finite():
                    # TreeSet comparator converts members to BigDecimal
                    # — non-finite throws at compile (probe-verified 'c'
                    # for enum: [1e309]; const has no such conversion
                    # and accepts Infinity)
                    bad("enum", "members must be finite numbers")
                k = canon_key(m)
                if k in seen:
                    # the TreeSet insert throws on a (numerically
                    # tolerant) duplicate member (EnumCompiler:44-47)
                    bad("enum", "must not contain duplicate members")
                seen.add(k)
        if "required" in node:
            v = node["required"]
            if not isinstance(v, list) or any(not isinstance(x, str) for x in v):
                bad("required", "must be an array of strings")  # RequiredCompiler
            if len(set(v)) != len(v):
                bad("required", "must not contain duplicates")
        obj_kws = ["properties", "patternProperties"]
        if post7:
            obj_kws += ["dependentSchemas", "dependentRequired"]
        for kw in obj_kws:
            if kw in node and not isinstance(node[kw], dict):
                bad(kw, "must be an object")  # PropertiesCompiler:31 et al.
        if post7 and "dependentRequired" in node:
            for dep in node["dependentRequired"].values():
                if not isinstance(dep, list) or any(
                        not isinstance(x, str) for x in dep):
                    bad("dependentRequired", "values must be arrays of strings")
        if dialect == "2020-12" and "prefixItems" in node:
            v = node["prefixItems"]
            if not isinstance(v, list) or not v:
                bad("prefixItems", "must be a non-empty array")  # PrefixItemsFactory:49

    # ------------------------------------------------------ combinators


    def _schemas_array(self, kw: str, schemas: Any) -> list:
        # BaseSomeOfCompiler.prepareValidators checkIt: the value must
        # be a non-empty array ({"anyOf": []} is a compile error)
        if not isinstance(schemas, list) or not schemas:
            raise SchemaCompileError(
                f"the value of {kw} must be a non-empty array")
        return schemas

    def _kw_all_of(self, schemas: list) -> Callable:
        subs = [self._sub(s) for s in schemas]

        def kv(inst, path, scope, ann, errors):
            ok = True
            for sub in subs:
                s_ok, errs, s_ann = sub(inst, path, scope)
                if s_ok:
                    _ann_merge(ann, s_ann)
                else:
                    ok = False
                    if errors is None:
                        return False
                    if errs:
                        errors.extend(errs)
            return ok

        return kv

    def _kw_any_of(self, schemas: list) -> Callable:
        subs = [self._sub(s) for s in schemas]

        def kv(inst, path, scope, ann, errors):
            any_ok = False
            all_errs = []
            for sub in subs:
                s_ok, errs, s_ann = sub(inst, path, scope)
                if s_ok:
                    # a pass discards every branch's errors, so only
                    # annotations make the later branches matter
                    if ann is None:
                        return True
                    any_ok = True
                    _ann_merge(ann, s_ann)
                elif errs:
                    all_errs.extend(errs)
            if not any_ok:
                if errors is not None:
                    errors.extend(all_errs)
                self._err(errors, path, "anyOf", "ANY_OF")
            return any_ok

        return kv

    def _kw_one_of(self, schemas: list) -> Callable:
        subs = [self._sub(s) for s in schemas]

        def kv(inst, path, scope, ann, errors):
            n_ok = 0
            ok_ann = None
            for sub in subs:
                s_ok, _errs, s_ann = sub(inst, path, scope)
                if s_ok:
                    n_ok += 1
                    ok_ann = s_ann
                    if n_ok > 1:
                        break
            if n_ok == 1:
                _ann_merge(ann, ok_ann)
                return True
            self._err(errors, path, "oneOf",
                      "ONE_OF_EMPTY" if n_ok == 0 else "ONE_OF_MORE_THAN_ONE")
            return False

        return kv

    def _kw_not(self, schema: Any) -> Callable:
        sub = self._sub(schema)

        def kv(inst, path, scope, ann, errors):
            s_ok, _, _ = sub(inst, path, scope)
            if s_ok:
                self._err(errors, path, "not", "NOT")
                return False
            return True

        return kv

    def _kw_if_then_else(self, if_s: Any, then_s: Any, else_s: Any) -> Callable:
        """Fused conditional (IfThenElseCompilerFactory.java:40-103):
        if-annotations propagate only on the 'then' arm."""
        if_sub = self._sub(if_s)
        then_sub = self._sub(then_s) if then_s is not None else None
        else_sub = self._sub(else_s) if else_s is not None else None

        def kv(inst, path, scope, ann, errors):
            c_ok, _c_errs, c_ann = if_sub(inst, path, scope)
            if c_ok:
                _ann_merge(ann, c_ann)
                if then_sub is None:
                    return True
                s_ok, errs, s_ann = then_sub(inst, path, scope)
                if s_ok:
                    _ann_merge(ann, s_ann)
                    return True
                if errs and errors is not None:
                    errors.extend(errs)
                self._err(errors, path, "then", None, "'then' schema failed")
                return False
            if else_sub is None:
                return True
            s_ok, errs, s_ann = else_sub(inst, path, scope)
            if s_ok:
                _ann_merge(ann, s_ann)
                return True
            if errs and errors is not None:
                errors.extend(errs)
            self._err(errors, path, "else", None, "'else' schema failed")
            return False

        return kv

    def _kw_dependent_schemas(self, arg: dict, kw: str = "dependentSchemas") -> Callable:
        subs = {k: self._sub(v) for k, v in arg.items()}
        # only "dependentSchemas" is in the reference's unevaluated*
        # AWAITED sets — annotations from the dual-form draft-7
        # "dependencies" keyword never reach extractEvaluated
        # (UnevaluatedPropertiesCompiler.java:27-35 lists
        # dependentSchemas only; reference-probe verified)
        merge = kw == "dependentSchemas"

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, dict):
                return True
            ok = True
            for k, sub in subs.items():
                if k in inst:
                    s_ok, errs, s_ann = sub(inst, path, scope)
                    if s_ok:
                        if merge:
                            _ann_merge(ann, s_ann)
                    else:
                        ok = False
                        if errors is None:
                            return False
                        if errs:
                            errors.extend(errs)
                        self._err(errors, path, kw, None,
                                  f"schema dependency on {k!r} failed")
            return ok

        return kv

    # ------------------------------------------------------ unevaluated*

    def _kw_unevaluated_items(self, schema: Any) -> Callable:
        sub = self._sub(schema)

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, list) or ann is None:
                return True
            if ann[3]:
                return True
            covered_prefix = ann[1]
            extra = ann[2] or ()
            ok = True
            for i in range(covered_prefix, len(inst)):
                if i in extra:
                    continue
                s_ok, errs, _ = sub(inst[i], path + (i,), scope)
                if not s_ok:
                    ok = False
                    if errors is None:
                        return False
                    self._err(errors, path + (i,), "unevaluatedItems", None,
                              f"unevaluated item at {i} invalid")
                    if errs:
                        errors.extend(errs)
            if ok:
                ann[3] = True
            return ok

        return kv

    def _kw_unevaluated_properties(self, schema: Any) -> Callable:
        sub = self._sub(schema)

        def kv(inst, path, scope, ann, errors):
            if not isinstance(inst, dict) or ann is None:
                return True
            seen = ann[0] or ()
            ok = True
            newly = []
            for k, v in inst.items():
                if k in seen:
                    continue
                s_ok, errs, _ = sub(v, path + (k,), scope)
                if not s_ok:
                    ok = False
                    if errors is None:
                        return False
                    self._err(errors, path + (k,), "unevaluatedProperties", None,
                              f"unevaluated property {k!r} invalid")
                    if errs:
                        errors.extend(errs)
                else:
                    newly.append(k)
            if ok and newly:
                _ann_add_props(ann, newly)
            return ok

        return kv


def _format_pointer(path: tuple) -> str:
    if not path:
        return ""
    return "/" + "/".join(str(p).replace("~", "~0").replace("/", "~1") for p in path)


# the JSON type of an instance whose Python type alone decides it;
# numbers (int/Decimal/float, integer-ness) go through type_matches
_EXACT_TYPE_NAMES = {str: "string", dict: "object", list: "array",
                     bool: "boolean", type(None): "null"}

# how the kernel's raw error arguments become MessageFormat args, per
# message kind: JsonNode args render as Jackson toString() or asText(),
# the contentMediaType as its MimeType, uniqueItems' as a pointer
# (the compilers cited at each _err call); the other args render as given
_ARG_RENDER = {
    "TYPE": (jackson_as_text, jackson_to_string),
    "FORMAT": (jackson_to_string,),
    "CONTENT_TYPE": (mime_type_str,),
    "UNIQUE_ITEMS": (_format_pointer,),
    **{k: (jackson_to_string, jackson_to_string) for k in (
        "ENUM", "CONST", "MINIMUM", "MAXIMUM", "EXCLUSIVE_MINIMUM",
        "EXCLUSIVE_MAXIMUM", "MULTIPLE_OF")},
}


def _message(kind: Optional[str], args: tuple) -> str:
    if kind is None:
        return args[0]
    conv = _ARG_RENDER.get(kind, ())
    return render_message(kind, *(f(a) for f, a in zip(conv, args)),
                          *args[len(conv):])


class CompiledSchema:
    """Immutable compiled schema: compile once on the driver, apply many
    times (rows / Arrow batches) — the Spark analogue of the reference's
    ``Schema`` closure (``Schema.java:17-23``)."""

    def __init__(self, root_validator: Callable, schema: Any, config: CompileConfig):
        self._v = root_validator
        self.schema = schema
        self.config = config

    def validate(self, instance: Any) -> tuple[bool, list[tuple[str, str, str]]]:
        """Validate a parsed JSON value → (ok, [(json_pointer, keyword, message)])."""
        ok, errors, _ = self._v(instance, (), ())
        out = [(_format_pointer(p), kw, _message(kind, args))
               for p, kw, kind, args in (errors or ())]
        return ok, out

    def is_valid(self, instance: Any) -> bool:
        return self._v(instance, (), ())[0]

    def is_valid_json(self, text: str) -> bool:
        try:
            inst = parse_json(text)
        except (ValueError, RecursionError):
            return False
        return self.is_valid(inst)

    def validate_json(self, text: str) -> tuple[bool, list[tuple[str, str, str]]]:
        try:
            inst = parse_json(text)
        except (ValueError, RecursionError):
            return False, [("", "$parse", "not parseable JSON")]
        return self.validate(inst)


def compile_schema(
    schema: Any,
    registry: Optional[SchemaRegistry] = None,
    dialect: Optional[str] = None,
    config: Optional[CompileConfig] = None,
    uri: str = "",
) -> CompiledSchema:
    """Compile a JSON Schema into a :class:`CompiledSchema`.

    ``registry`` may pre-register remote ``$ref`` targets
    (``engine.register_schema`` analogue of the reference's
    ``IExternalResolver`` — ``SchemaBuilder.java:228-285``).
    """
    if isinstance(schema, str):
        schema = json.loads(schema)
    config = config or CompileConfig()
    if dialect:
        config.dialect = dialect
    registry = registry or SchemaRegistry(default_dialect=config.dialect)
    registry.default_dialect = config.dialect
    registry.add(schema, uri)
    compiler = _Compiler(registry, config)
    root = compiler.compile_node(schema)
    # pre-compile dynamic-anchor / recursive-anchor targets so runtime
    # resolution is a dict lookup, never a compile
    for node in list(registry.dynamic_anchors.values()):
        compiler.compile_node(node)
    for uri_ in list(registry.recursive_roots):
        compiler.compile_node(registry.docs[uri_])
    return CompiledSchema(root, schema, config)
