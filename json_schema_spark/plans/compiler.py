"""Schema → Spark SQL ``Column`` expression compiler (the fast path).

A JSON Schema is compiled **once on the driver** into a list of
:class:`Check` columns — pure Catalyst expressions, whole-stage
code-generated, no Python on the hot path. Two instance encodings:

* **variant mode** (:class:`VariantCompiler`): the document is a JSON
  string column parsed once via ``F.try_parse_json``; keyword checks
  use ``try_variant_get`` / ``schema_of_variant`` / ``is_variant_null``
  so absent-vs-JSON-null and per-value dynamic types are exact. Given a
  :class:`SlotSink` (``SparkValidator.apply_json``), the compiler
  extracts each variant path once: the parse, every property
  navigation, type tag and typed cast become named slot columns, added
  by one ``withColumns`` projection per nesting depth, and each check's
  ``fail`` bit is one more slot that ``ok_of`` and ``violations_array``
  share. Inline, every keyword re-derived its own copies — whole-stage
  codegen skips a projection holding higher-order functions
  (``CodegenFallback``) and subexpression elimination does not reach
  into ``CASE WHEN`` branches. Two invariants: nothing built from a
  higher-order lambda variable is hoisted (lambda scope), and only
  total expressions are (``try_variant_get``, ``schema_of_variant``,
  ``try_cast``), because a slot runs on every row, also where the guard
  of its use is false. Without a sink (``json_columns``, which has no
  DataFrame to project onto) the same checks are inline expressions.
* **typed-row mode** (:class:`TypedRowCompiler`): the "document" is the
  row of a typed DataFrame (the Iceberg source-code table of
  BASELINE.json's input_hint); property subschemas bind to real columns
  and the JSON type check partially evaluates against the column's
  Spark type at compile time.

Schemas using features with no sound Column encoding (recursive $ref,
unevaluated*, non-regex formats, content keywords, composite enum
values, …) raise :class:`ExprUnsupported`; the runner then falls back
to the vectorized pandas-UDF kernel
(:mod:`json_schema_spark.core.validator`). This mirrors the reference's
compile-time partial evaluation + transformer fusion
(``compilers/ICompiler.java:14-17``, ``Compiler.java:91-96``) with
Catalyst taking the role of its runtime (SURVEY.md §4.1).
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass, replace
from decimal import Decimal
from functools import reduce
from typing import Any, Callable, Iterable, Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..core.jsonvalue import to_decimal
from ..core.messages import (MESSAGE_TEMPLATES, jackson_to_string, java_int,
                             java_hashset_order, render_message)
from ..core.registry import SchemaCompileError, SchemaRegistry
from ..functions.formats import (FORMAT_REGEXES, JavaOnlyRegex,
                                 JavaRegexError, compile_java_pattern)

__all__ = ["Check", "ExprUnsupported", "SlotSink", "VariantCompiler", "TypedRowCompiler",
           "DEC"]

DEC = "decimal(38,18)"  # exact-decimal keyword arithmetic (SURVEY §1.1)


def _fits_dec(d: "Decimal") -> bool:
    """True when ``d`` is exactly representable in decimal(38,18) — 20
    integral digits, 18 fractional. Literals outside this range must
    not be cast to DEC (ANSI mode raises ArithmeticException; non-ANSI
    silently rounds tiny scales to 0, breaking comparisons)."""
    if not d.is_finite():
        return False
    t = d.normalize().as_tuple()
    scale = max(0, -t.exponent)
    return scale <= 18 and abs(d) < Decimal(10) ** 20

_SAFE_KEY = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


class ExprUnsupported(Exception):
    """Schema not expressible as a static Column plan → UDF fallback."""


_VIOL_TYPE = "array<struct<path:string,keyword:string,message:string>>"


@dataclass
class Check:
    fail: Column  # TRUE ⇔ violation (never NULL)
    path: str  # JSON pointer of the instance location
    keyword: "Optional[str]"  # None = verdict-only (no static entry)
    # reference-identical error text (core.messages templates). A str is
    # a compile-time constant; a Column carries instance values (e.g.
    # "Value 7 greater than 5") rendered JVM-side — still zero Python.
    message: "str | Column" = ""
    # runtime-addressed violations (per-key / per-index applicators):
    # an array<struct<path,keyword,message>> Column whose element paths
    # are built from runtime keys — kernel error-surface parity for
    # patternProperties / additionalProperties / propertyNames / items
    # tails / unevaluated*. Emitted alongside (or instead of) the
    # static entry; `fail` still governs the verdict alone.
    entries: "Optional[Column]" = None
    # False for a check that only adds error entries: whenever it fires,
    # a verdict check of the same list fires too (a branch's own errors
    # under anyOf's, then/else's or a schema dependency's wrapper check).
    # ``ok_of`` skips it, so nested combinators do not copy every inner
    # check into each enclosing verdict.
    verdict: bool = True


def _nn(cond: Column) -> Column:
    """Null-safe: NULL → False."""
    return F.coalesce(cond, F.lit(False))


def _empty_viols() -> Column:
    return F.array().cast(_VIOL_TYPE)


def _any(conds) -> Column:
    """``c0 | c1 | …`` as a balanced tree. It evaluates and
    short-circuits left to right like the left-deep chain, but the
    optimizer pushes a negation of it (``ok_of``, ``~any_ok``) to the
    leaves one tree level per pass: a left-deep chain of n checks costs
    n passes of every rule over the whole plan, a balanced one log2(n)."""
    return _balanced(operator.or_, list(conds))


def _all(conds) -> Column:
    """``c0 & c1 & …`` as a balanced tree (see ``_any``)."""
    return _balanced(operator.and_, list(conds))


def _balanced(op, cols: list[Column]) -> Column:
    while len(cols) > 1:
        cols = [op(cols[i], cols[i + 1]) if i + 1 < len(cols) else cols[i]
                for i in range(0, len(cols), 2)]
    return cols[0]


def ok_of(checks: list[Check]) -> Column:
    fails = [c.fail for c in checks if c.verdict]
    if not fails:
        return F.lit(True)
    return ~_any(fails)


def _regate(c: Check, gate: Column) -> Check:
    """A check re-gated on an outer condition, entries included."""
    ent = None
    if c.entries is not None:
        ent = F.when(_nn(gate), c.entries).otherwise(_empty_viols())
    return replace(c, fail=_nn(gate & c.fail), entries=ent)


def _implied(c: Check, gate: Column) -> Check:
    """``c`` re-gated on ``gate``, for a list whose wrapper check fires
    whenever ``gate & c.fail`` does: an entries-only check."""
    return replace(_regate(c, gate), verdict=False)


def _entry_if(fail: Column, path: Column, keyword: str,
              message: "str | Column", empty: Column) -> Column:
    """A one-element violations array when ``fail``, else ``empty``
    (one shared ``_empty_viols()`` per array saves its py4j calls).
    Built from ``when``/``array``/``struct`` only, so the projection
    keeps whole-stage codegen (``filter(array(...))`` is a
    CodegenFallback higher-order function)."""
    msg = F.lit(message) if isinstance(message, str) else message
    return F.when(fail, F.array(F.struct(
        path.alias("path"), F.lit(keyword).alias("keyword"),
        msg.alias("message")))).otherwise(empty)


def _concat_viols(parts: list[Column], empty: Column) -> Column:
    if not parts:
        return empty
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _names_if(named: list[tuple[str, Column]]) -> Column:
    """Comma-joined names whose condition holds, in list order:
    ``concat_ws`` skips the NULLs of the unfired ``when``s."""
    return F.concat_ws(",", *[F.when(cond, F.lit(n)) for n, cond in named])


def violations_array(checks: list[Check]) -> Column:
    """array<struct<path,keyword,message>> of fired checks (static
    entries first, then each check's runtime-addressed entries)."""
    empty = _empty_viols()
    parts = [_entry_if(c.fail, F.lit(c.path), c.keyword, c.message, empty)
             for c in checks if c.keyword is not None]
    parts.extend(F.coalesce(c.entries, empty)
                 for c in checks if c.entries is not None)
    return _concat_viols(parts, empty)


_PLACEHOLDER = re.compile(r"\{(\d+)\}")


def _jint(c: Column) -> Column:
    """Integer arg through MessageFormat's NumberFormat: en-US grouping
    separators (``java_int`` as a Column — format_number matches)."""
    return F.format_number(c.cast("bigint"), 0)


def msg_col(kind: str, *args) -> "str | Column":
    """The reference's per-kind MessageFormat template with args
    substituted (``results/ValidationError.java:27-33`` — the Column
    twin of :func:`core.messages.render_message`). Args: ``str`` =
    pre-rendered literal, ``int`` = NumberFormat grouping, ``Column`` =
    a pre-rendered string column (wrap integer columns in ``_jint``).
    A placeholder with no matching arg stays literal (the MAX_LENGTH
    ``{2}`` quirk). All-literal args collapse to a plain str so static
    messages stay codegen-constant."""
    if not any(isinstance(a, Column) for a in args):
        return render_message(kind, *args)
    tmpl = MESSAGE_TEMPLATES[kind]
    parts: list[Column] = []
    last = 0
    for m in _PLACEHOLDER.finditer(tmpl):
        if m.start() > last:
            parts.append(F.lit(tmpl[last:m.start()]))
        i = int(m.group(1))
        if i >= len(args):
            parts.append(F.lit(m.group(0)))
        else:
            a = args[i]
            if isinstance(a, Column):
                parts.append(a)
            elif isinstance(a, bool):
                parts.append(F.lit(str(a)))
            elif isinstance(a, int):
                parts.append(F.lit(java_int(a)))
            else:
                parts.append(F.lit(str(a)))
        last = m.end()
    if last < len(tmpl):
        parts.append(F.lit(tmpl[last:]))
    return F.concat(*parts)


class SlotSink:
    """Named columns for the per-row extractions a :class:`VariantCompiler`
    hoists out of its check expressions (navigation, type tags, typed
    casts), so each is computed once per row instead of once per use.

    A slot is keyed by structure — the parent slot's key, the operation
    and its argument (JSON path segment, target type) — never by the
    rendered Column string, which Catalyst truncates. A slot sits one
    projection deeper than the deepest slot it reads; :meth:`project`
    adds them with one ``withColumns`` per depth. Names avoid every
    column of the input (``taken``), ignoring case as Spark does."""

    def __init__(self, taken: Iterable[str]):
        self._taken = {c.lower() for c in taken}
        # key -> (name, expr, depth, ref); ref is the Column handed out,
        # held here so its id() stays unique for the sink's lifetime
        self._slots: dict[tuple, tuple[str, Column, int, Column]] = {}
        self._keys: dict[int, tuple] = {}  # id(ref) -> key
        self._reads: list[Column] = []  # every ref handed out, in order

    def fresh(self, stem: str) -> str:
        """A new column name from ``stem``, absent from every name taken."""
        name, n = stem, 0
        while name.lower() in self._taken:
            n += 1
            name = f"{stem}_{n}"
        self._taken.add(name.lower())
        return name

    def _add(self, key: tuple, name: str, expr: Column, depth: int) -> Column:
        ref = F.col(name)
        self._slots[key] = (name, expr, depth, ref)
        self._keys[id(ref)] = key
        self._reads.append(ref)
        return ref

    def root(self, expr: Column) -> Column:
        """The document slot (depth 1) every other slot derives from."""
        return self._add(("root",), self.fresh("__jss_variant"), expr, 1)

    def key_of(self, col: Column) -> Optional[tuple]:
        """The slot key of ``col``, or None when it is not a slot ref."""
        return self._keys.get(id(col))

    def hoist(self, parent: Column, op: Any, build: Callable[[], Column]) -> Column:
        """The slot for ``op`` applied to slot ``parent``; ``build`` runs
        on first use only, and must obtain every slot it reads through
        this sink while it runs — those reads set the slot's depth."""
        key = (self.key_of(parent), op)
        hit = self._slots.get(key)
        if hit is not None:
            self._reads.append(hit[3])
            return hit[3]
        mark = len(self._reads)
        expr = build()
        depth = 1 + max(self._slots[self.key_of(c)][2]
                        for c in (parent, *self._reads[mark:]))
        return self._add(key, self.fresh(f"__jss_s{len(self._slots)}"), expr, depth)

    def hoist_fails(self, checks: list[Check]) -> list[Check]:
        """``checks`` with each ``fail`` bit a slot, one projection past
        the deepest extraction: ``ok_of`` and ``violations_array`` then
        read one computed bit instead of each evaluating the check."""
        depth = 1 + max(s[2] for s in self._slots.values())
        return [replace(c, fail=self._add(("fail", i), self.fresh(f"__jss_f{i}"),
                                          c.fail, depth))
                for i, c in enumerate(checks)]

    @property
    def names(self) -> list[str]:
        return [s[0] for s in self._slots.values()]

    def project(self, df: DataFrame) -> DataFrame:
        by_depth: dict[int, dict[str, Column]] = {}
        for name, expr, depth, _ in self._slots.values():
            by_depth.setdefault(depth, {})[name] = expr
        for d in sorted(by_depth):
            df = df.withColumns(by_depth[d])
        return df


_SCALAR = ("string", "number", "integer", "boolean", "null")

# keywords whose annotations depend on which branch succeeded at
# runtime — under unevaluated* only their ZERO-coverage shapes stay on
# the expression path (see _coverage_guard); anything else falls back
# to the UDF kernel


class _BaseCompiler:
    """Shared combinator / dispatch logic for both encodings."""

    def __init__(self, registry: SchemaRegistry, dialect: str = "draft7",
                 format_assertions: bool = False, content_asserts: bool = False,
                 regex_factory: Optional[Callable] = None):
        self.registry = registry
        self.dialect = dialect
        self.format_assertions = format_assertions
        self.content_asserts = content_asserts
        # a user-supplied regex predicate factory governs pattern
        # semantics — rlike (Java dialect) can no longer stand in, so
        # every regex-bearing schema must go to the kernel
        self.regex_factory = regex_factory
        self.custom_regex_dialect = regex_factory is not None
        self._ref_stack: list[int] = []

    # -- helpers -----------------------------------------------------

    def _ptr(self, path: tuple) -> str:
        # RFC 6901 escaping, matching the kernel's _format_pointer
        if not path:
            return ""
        return "/" + "/".join(
            str(p).replace("~", "~0").replace("/", "~1") for p in path)

    def _num_check(self, val, build: Callable[[Column], Column]) -> Column:
        """Numeric predicate with exact-decimal semantics and a double
        fallback for values outside decimal(38,18) (the reference uses
        unbounded BigDecimal — ``BaseNumberCompiler.java:24``; a JSON
        float was parsed from a double anyway, so double comparison is
        exact there). The decimal branch is gated on a double
        ROUND-TRIP, not just non-null: DEC silently rounds tiny scales
        (1e-30 → 0E-18), which would turn e.g. exclusiveMinimum 0 into
        a false pass."""
        dec = self.v_as_number(val)
        dbl = self.v_as_number_dbl(val)
        return F.when(dec.isNotNull() & dec.cast("double").eqNullSafe(dbl),
                      build(dec)).otherwise(build(dbl))

    def _dec_lit(self, v, kw: str) -> Column:
        """Schema numeric literal as a DEC column; outside the exact
        decimal(38,18) range the whole schema goes to the kernel
        (double-domain comparison could diverge for exact big
        integers, and ANSI casts of oversized literals throw)."""
        d = to_decimal(v)
        if not _fits_dec(d):
            raise ExprUnsupported(
                f"{kw} literal {v!r} outside decimal(38,18) needs the UDF kernel")
        return F.lit(d).cast(DEC)

    def _regex(self, pattern: str) -> str:
        """Validate ``pattern`` for the JVM ``rlike`` path and return it
        RAW — Java reads it natively. Java-only constructs the Python
        kernel can't express (class intersection, \\G, variable-width
        lookbehind, ...) are fine HERE; patterns Java itself rejects
        raise, sending the schema to the kernel, which rejects it with
        the reference-parity compile error."""
        if self.custom_regex_dialect:
            raise ExprUnsupported("custom regex dialect needs the UDF kernel")
        try:
            compile_java_pattern(pattern)
        except JavaOnlyRegex:
            pass  # valid Java; rlike evaluates it natively
        except JavaRegexError as e:
            raise ExprUnsupported(f"regex not compilable: {pattern!r}: {e}") from e
        return pattern

    def _pyrx(self, pattern: str) -> "re.Pattern":
        """Python-compiled schema regex for compile-time static name
        matching (patternProperties / propertyNames / unevaluated*);
        Java-only constructs can't be matched statically."""
        try:
            return compile_java_pattern(self._regex(pattern))
        except (JavaOnlyRegex, JavaRegexError) as e:
            raise ExprUnsupported(f"static regex matching impossible: {e}") from e

    def _jrx(self, pattern: str) -> str:
        """Pattern for the JVM `rlike` side: validated, with Java's
        embedded UNICODE_CHARACTER_CLASS flag prepended so `\\d`/`\\w`
        match Unicode digits/letters — parity with the reference
        (every pattern compiled with UNICODE_CASE |
        UNICODE_CHARACTER_CLASS, ``common/regex/RegexFactory.java:20``)
        and with the Python kernel, whose `re` is Unicode by default."""
        return "(?U)" + self._regex(pattern)

    def _guard_keywords(self, node: dict) -> None:
        # $recursiveRef is a 2019-09-only keyword and $dynamicRef
        # 2020-12-only; in any other draft the reference IGNORES them
        # (unknown keyword), so only the active draft needs the kernel
        if "$recursiveRef" in node and self.dialect == "2019-09":
            raise ExprUnsupported("keyword '$recursiveRef' needs the UDF kernel")
        if "$dynamicRef" in node and self.dialect == "2020-12":
            raise ExprUnsupported("keyword '$dynamicRef' needs the UDF kernel")
        if "contentSchema" in node:
            raise ExprUnsupported("keyword 'contentSchema' needs the UDF kernel")
        if ("contentEncoding" in node or "contentMediaType" in node) and (
            self.content_asserts or self.dialect == "draft7"
        ):
            raise ExprUnsupported("content assertions need the UDF kernel")
        if "format" in node and self.format_assertions and node["format"] not in FORMAT_REGEXES:
            raise ExprUnsupported(f"format {node['format']!r} needs the UDF kernel")
        if "patternProperties" in node or "propertyNames" in node:
            # handled by VariantCompiler only; TypedRow overrides
            pass

    # -- schema dispatch (shared shape; value ops via self.v_*) -------

    def compile(self, node: Any, val, path: tuple) -> list[Check]:
        """Compile schema ``node`` against abstract value ``val``."""
        if node is True or node == {}:
            return []
        if node is False:
            return [Check(self.v_present(val), self._ptr(path), "false",
                          render_message("FALSE_SCHEMA"))]
        if not isinstance(node, dict):
            raise ExprUnsupported(f"schema must be object/bool, got {type(node).__name__}")

        # post-draft-7 non-string $id on a compiled node: compile error
        # (IdCompiler textValue() NPE — kernel _build has the same guard)
        if self.dialect != "draft7" and "$id" in node \
                and not isinstance(node["$id"], str):
            raise SchemaCompileError("the $id must be a string")

        if "$ref" in node:
            base = self.registry.base_of(node)
            target = self.registry.resolve_ref(node["$ref"], base)
            tid = id(target)
            if tid in self._ref_stack:
                raise ExprUnsupported("recursive $ref needs the UDF kernel")
            self._ref_stack.append(tid)
            try:
                ref_checks = self.compile(target, val, path)
            finally:
                self._ref_stack.pop()
            if self.dialect == "draft7":
                return ref_checks  # $ref replaces siblings (RefCompiler.java:50-66)
            # absorb-and-skip: an unevaluated* sibling absorbs the $ref
            # (and the other in-place applicators) — their checks fire
            # only on right-typed instances
            ugate = self._uneval_gate(node, val)
            if ugate is not None and any(
                kw in node for kw in ("allOf", "not", "anyOf", "oneOf",
                                      "if", "dependentSchemas")
            ):
                # the rest-recursion below cannot see the absorb gate
                # (since round 5 the branch keywords may legitimately
                # coexist with unevaluated* — zero-coverage shapes — so
                # they too must bail here, not just allOf/not)
                raise ExprUnsupported(
                    "$ref + unevaluated* + in-place applicators need the UDF kernel")
            ref_checks = self._gate_checks(ref_checks, ugate)
            rest = {k: v for k, v in node.items()
                    if k not in ("$ref", "unevaluatedProperties", "unevaluatedItems")}
            out = ref_checks + self.compile(rest if rest else True, val, path)
            # unevaluated* sibling of $ref: the ref target contributes
            # annotations, so coverage must be computed from the
            # ORIGINAL node (the stripped copy has lost the $ref)
            if "unevaluatedProperties" in node:
                out += self._unevaluated_prop_checks(node, val, path)
            if "unevaluatedItems" in node:
                out += self._unevaluated_item_checks(node, val, path)
            return out

        self._guard_keywords(node)
        checks: list[Check] = []
        p = self._ptr(path)
        # reference absorb-and-skip (UnevaluatedItemsCompiler.java:
        # 106-118, BasePropertiesCollectorValidator.java:27-41): an
        # unevaluated* keyword absorbs its node's in-place applicators
        # ($ref, allOf, not, …) and skips them for wrong-typed
        # instances. The expressible subset: gate the absorbed checks on
        # the instance being an array/object. anyOf/oneOf/if/
        # dependentSchemas/contains under unevaluated* already fall back
        # to the kernel via _coverage_guard; the both-present shape does
        # too (the two absorb sets interleave).
        ugate = self._uneval_gate(node, val)

        if "type" in node:
            types = [node["type"]] if isinstance(node["type"], str) else list(node["type"])
            m = _any(self.v_type_is(val, t) for t in types)
            # TypeCompiler.java:61-66: args = (instance.asText(), the
            # raw type keyword node)
            checks.append(Check(_nn(self.v_present(val) & ~m), p, "type",
                                msg_col("TYPE", self.v_astext(val),
                                        jackson_to_string(node["type"]))))
        if "enum" in node:
            checks.append(self._c_enum(node["enum"], val, p, "enum"))
        if "const" in node:
            checks.append(self._c_enum([node["const"]], val, p, "const"))
        _BOUND_KIND = {"minimum": "MINIMUM", "maximum": "MAXIMUM",
                       "exclusiveMinimum": "EXCLUSIVE_MINIMUM",
                       "exclusiveMaximum": "EXCLUSIVE_MAXIMUM"}
        for kw, op in (("minimum", ">="), ("maximum", "<="),
                       ("exclusiveMinimum", ">"), ("exclusiveMaximum", "<")):
            if kw in node:
                if isinstance(node[kw], bool):
                    raise ExprUnsupported("draft-04 boolean exclusive bounds unsupported")
                bound = self._dec_lit(node[kw], kw)
                cmpc = self._num_check(
                    val,
                    lambda num, _op=op, _b=bound: {"<": num < _b, "<=": num <= _b,
                                                   ">": num > _b, ">=": num >= _b}[_op],
                )
                # MaximumCompiler.java:33 etc: args = (node, schemaNode)
                checks.append(Check(_nn(self.v_is_number(val) & ~_nn(cmpc)), p, kw,
                                    msg_col(_BOUND_KIND[kw], self.v_render(val),
                                            jackson_to_string(node[kw]))))
        if "multipleOf" in node:
            m = self._dec_lit(node["multipleOf"], "multipleOf")
            ok = self._num_check(val, lambda num: num % m == 0)
            checks.append(Check(_nn(self.v_is_number(val) & ~_nn(ok)), p, "multipleOf",
                                msg_col("MULTIPLE_OF", self.v_render(val),
                                        jackson_to_string(node["multipleOf"]))))
        if "pattern" in node:
            rx = self._regex(node["pattern"])
            s = self.v_as_string(val)
            # PatternCompiler.java:44: args = (node.asText(), pattern) —
            # both raw strings, no JSON quoting
            checks.append(Check(_nn(self.v_is_string(val) & ~_nn(s.rlike(self._jrx(rx)))), p,
                                "pattern", msg_col("PATTERN", s, node["pattern"])))
        if "minLength" in node:
            s = self.v_as_string(val)
            # BaseLengthCompiler.java:49: args = (limit, actual); the
            # template's {2} has no arg and stays literal
            checks.append(Check(_nn(self.v_is_string(val) & (F.length(s) < int(node["minLength"]))),
                                p, "minLength",
                                msg_col("MIN_LENGTH", int(node["minLength"]),
                                        _jint(F.length(s)))))
        if "maxLength" in node:
            s = self.v_as_string(val)
            checks.append(Check(_nn(self.v_is_string(val) & (F.length(s) > int(node["maxLength"]))),
                                p, "maxLength",
                                msg_col("MAX_LENGTH", int(node["maxLength"]),
                                        _jint(F.length(s)))))
        if "format" in node and self.format_assertions:
            rx = FORMAT_REGEXES[node["format"]]
            s = self.v_as_string(val)
            # FormatCompiler.java:109: args = (instance NODE, format) —
            # the node renders with its JSON quotes
            checks.append(Check(_nn(self.v_is_string(val) & ~_nn(s.rlike("(?U)" + rx))), p,
                                "format", msg_col("FORMAT", self.v_render(val),
                                                  node["format"])))

        checks.extend(self._object_keywords(node, val, path))
        checks.extend(self._array_keywords(node, val, path))

        # combinators: one fused check each (SURVEY §2.5)
        if "allOf" in node:
            subs = [self.compile(s, val, path) for s in node["allOf"]]
            checks.extend(self._gate_checks(
                [c for cs in subs for c in cs], ugate))
        if "anyOf" in node:
            branches = [self.compile(s, val, path) for s in node["anyOf"]]
            oks = [ok_of(cs) for cs in branches]
            fail_all = _nn(self.v_present(val) & ~_any(oks))
            # kernel/reference: when every branch fails, each failing
            # branch's OWN errors surface, then the ANY_OF error
            # (AnyOfCompiler — all_errs extended before the summary)
            any_checks = [_implied(c, fail_all) for cs in branches for c in cs]
            any_checks.append(
                Check(fail_all, p, "anyOf", render_message("ANY_OF")))
            # absorbed by an unevaluated* sibling: skipped for
            # wrong-typed instances (_UNEVAL_*_ABSORBS lists anyOf)
            checks.extend(self._gate_checks(any_checks, ugate))
        if "oneOf" in node:
            oks = [ok_of(self.compile(s, val, path)) for s in node["oneOf"]]
            n_ok = reduce(lambda a, b: a + b, [o.cast("int") for o in oks])
            # two checks so the error KIND can distinguish the
            # reference's ONE_OF_EMPTY vs ONE_OF_MORE_THAN_ONE; branch
            # errors are DISCARDED (OneOfCompiler — results dropped)
            checks.extend(self._gate_checks([
                Check(_nn(self.v_present(val) & (n_ok == 0)), p, "oneOf",
                      render_message("ONE_OF_EMPTY")),
                Check(_nn(self.v_present(val) & (n_ok > 1)), p, "oneOf",
                      render_message("ONE_OF_MORE_THAN_ONE")),
            ], ugate))
        if "not" in node:
            sub_ok = ok_of(self.compile(node["not"], val, path))
            checks.extend(self._gate_checks(
                [Check(_nn(self.v_present(val) & sub_ok), p, "not",
                       render_message("NOT"))], ugate))
        if "if" in node:
            cond = ok_of(self.compile(node["if"], val, path))
            then_checks = self.compile(node["then"], val, path) if "then" in node else []
            else_checks = self.compile(node["else"], val, path) if "else" in node else []
            then_ok = ok_of(then_checks) if "then" in node else F.lit(True)
            else_ok = ok_of(else_checks) if "else" in node else F.lit(True)
            pres = self.v_present(val)
            # kernel parity (_kw_if_then_else): the taken arm's own
            # errors surface, then a synthetic then/else marker; the
            # 'if' subschema's errors are always discarded
            ite_checks = [_implied(c, pres & cond) for c in then_checks]
            ite_checks.append(Check(_nn(pres & cond & ~then_ok), p, "then",
                                    "'then' schema failed"))
            ite_checks.extend(_implied(c, pres & ~cond) for c in else_checks)
            ite_checks.append(Check(_nn(pres & ~cond & ~else_ok), p, "else",
                                    "'else' schema failed"))
            # absorbed by an unevaluated* sibling (skip on wrong type)
            checks.extend(self._gate_checks(ite_checks, ugate))
        # dependentRequired/dependentSchemas/unevaluated* are unknown
        # keywords in draft7 (ignored); dual-form "dependencies" is
        # active in every draft (reference-probe verified)
        post7 = self.dialect != "draft7"
        deps = {}
        if "dependentRequired" in node and post7:
            deps.update({k: (v, "dependentRequired")
                         for k, v in node["dependentRequired"].items()})
        if "dependencies" in node:
            deps.update({k: (v, "dependencies")
                         for k, v in node["dependencies"].items()})
        # list-form rules: the violation keyword is the SOURCE keyword —
        # draft-7's dual-form "dependencies" maps to the reference's
        # DEPENDENCIES kind and emits one error PER violated trigger,
        # while dependentRequired joins every violated TRIGGERING
        # property into ONE error (DependentRequiredCompiler.java:55-59
        # vs DependenciesCompiler.java:148-153 — kernel parity)
        dreq_viol: list[tuple[str, Column]] = []
        for k, (d, src_kw) in deps.items():
            trigger = self.v_has_prop(val, k)
            if isinstance(d, list):
                need = [self.v_has_prop(val, n) for n in d]
                ok = _all(need) if need else F.lit(True)
                violated = _nn(trigger & ~ok)
                if src_kw == "dependentRequired":
                    dreq_viol.append((k, violated))
                else:
                    checks.append(Check(violated, p, src_kw,
                                        render_message("DEPENDENCIES", k)))
            else:
                # schema form: the subschema's own errors surface (gated
                # on the trigger), then the wrapper error — kernel
                # _kw_dependent_schemas parity
                kw = "dependentSchemas" if src_kw == "dependentRequired" else src_kw
                sub_checks = self.compile(d, val, path)
                sub_ok = ok_of(sub_checks)
                checks.extend(_implied(c, trigger) for c in sub_checks)
                checks.append(Check(_nn(trigger & ~sub_ok), p, kw,
                                    f"schema dependency on {k!r} failed"))
        if dreq_viol:
            any_viol = _any(v for _, v in dreq_viol)
            joined = _names_if(dreq_viol)
            checks.append(Check(any_viol, p, "dependentRequired",
                                msg_col("DEPENDENT_REQUIRED", joined)))
        if "dependentSchemas" in node and post7:
            ds_checks: list[Check] = []
            for k, d in node["dependentSchemas"].items():
                trigger = self.v_has_prop(val, k)
                sub_checks = self.compile(d, val, path)
                sub_ok = ok_of(sub_checks)
                ds_checks.extend(_implied(c, trigger) for c in sub_checks)
                ds_checks.append(Check(_nn(trigger & ~sub_ok), p, "dependentSchemas",
                                       f"schema dependency on {k!r} failed"))
            # absorbed by an unevaluated* sibling (skip on wrong type);
            # dual-form draft-7 "dependencies" above is NOT absorbed
            # (its tag is missing from both _UNEVAL_*_ABSORBS sets) and
            # stays ungated
            checks.extend(self._gate_checks(ds_checks, ugate))

        # unevaluated* — only the statically-resolvable shapes (SURVEY §7
        # "What's hard"): when every in-place applicator is properties /
        # patternProperties / additionalProperties / allOf / $ref, the
        # evaluated set is known at compile time and the keyword reduces
        # to a set-difference expression (UnevaluatedPropertiesCompiler
        # semantics without runtime annotations). Branch-dependent cases
        # raise ExprUnsupported → kernel fallback.
        if "unevaluatedProperties" in node and post7:
            checks.extend(self._unevaluated_prop_checks(node, val, path))
        if "unevaluatedItems" in node and post7:
            checks.extend(self._unevaluated_item_checks(node, val, path))
        return checks

    # -- static annotation resolution for unevaluated* -----------------

    def _unevaluated_prop_checks(self, node: dict, val, path: tuple) -> list[Check]:
        """Static-coverage form (typed-row path; VariantCompiler
        overrides with runtime block-success-gated coverage)."""
        names, pats, all_p = self._static_prop_coverage(node, set(), top=True)
        if all_p:
            return []
        return self._c_unevaluated_props(
            node["unevaluatedProperties"], names, pats, val, path)

    def _unevaluated_item_checks(self, node: dict, val, path: tuple) -> list[Check]:
        n_cov, all_i = self._static_item_coverage(node, set(), top=True)
        if all_i:
            return []
        return self._c_unevaluated_items(
            node["unevaluatedItems"], n_cov, val, path)

    def _uneval_gate(self, node: dict, val) -> Optional[Column]:
        """The absorb gate for this node's in-place applicator checks:
        `instance is array` under unevaluatedItems, `instance is object`
        under unevaluatedProperties, None when neither is active. Both
        present is a kernel-only shape (unevaluatedItems transforms
        first and owns the shared keywords; modelling that statically
        is not worth it)."""
        if self.dialect == "draft7":
            return None
        has_ui = "unevaluatedItems" in node
        has_up = "unevaluatedProperties" in node
        if has_ui and has_up:
            raise ExprUnsupported(
                "both unevaluated* at one node need the UDF kernel")
        if has_ui:
            return self.v_type_is(val, "array")
        if has_up:
            return self.v_type_is(val, "object")
        return None

    @staticmethod
    def _gate_checks(checks: list[Check], gate: Optional[Column]) -> list[Check]:
        if gate is None:
            return checks
        return [_regate(c, gate)
                for c in checks]

    def _coverage_guard(self, node: dict, seen: set = frozenset(),
                        item: bool = False) -> None:
        """Branch-dependent keywords under unevaluated* stay on the
        expression path exactly when their annotation contribution is
        statically ZERO in every alternative (round-5 widening of the
        blanket round-3 rejection — r4 verdict "Next round" #6):

        * ``anyOf``/``oneOf``/``if``/``then``/``else``: every branch
          schema must contribute empty coverage. Then the kernel merges
          nothing whether a branch succeeds or fails, so verdicts AND
          violation-entry multisets are unaffected — the equal-NONEMPTY
          case is deliberately not taken (a failing anyOf member drops
          its annotations while the overall schema can still collect
          unevaluated* entries, so static coverage would change the
          entry set).
        * ``dependentSchemas``: every dependent subschema must
          contribute empty coverage (which keys are present — and hence
          which subschemas annotate — is per-row).
        * draft-7 dual-form schema ``dependencies``: NO constraint —
          its annotations never reach the awaited sets
          (``UnevaluatedPropertiesCompiler.java:27-35`` lists
          ``dependentSchemas`` only; ``core/validator.py:1401``
          ``merge=False``, reference-probe verified), so it is
          coverage-invisible even with coverage-bearing subschemas.
        * ``$dynamicRef``/``$recursiveRef``: always kernel (the target
          is scope-dependent, unknowable statically).

        ``item`` selects which coverage kind must be empty. For ITEM
        coverage ``dependentSchemas`` is also invisible (it only runs —
        and only merges — on object instances, never on arrays)."""
        for kw in ("$dynamicRef", "$recursiveRef"):
            if kw in node:
                raise ExprUnsupported(
                    f"unevaluated* with branch-dependent {kw!r} needs the UDF kernel"
                )

        def require_zero(s, kw: str) -> None:
            # COPY of the caller's cycle guard: probing a branch must
            # not poison the caller's traversal, but must still detect
            # $ref cycles THROUGH the branch (e.g. "if": {"$ref": "#"}
            # would otherwise recurse guard -> probe -> guard forever)
            if item:
                c, a = self._static_item_coverage(s, set(seen))
                zero = c == 0 and not a
            else:
                n, p, a = self._static_prop_coverage(s, set(seen))
                zero = not n and not p and not a
            if not zero:
                raise ExprUnsupported(
                    f"unevaluated* with coverage-bearing {kw!r} branch "
                    "needs the UDF kernel")

        for kw in ("anyOf", "oneOf"):
            v = node.get(kw)
            if isinstance(v, list):
                for s in v:
                    require_zero(s, kw)
        if "if" in node:
            require_zero(node["if"], "if")
            for kw in ("then", "else"):
                if kw in node:
                    require_zero(node[kw], kw)
        if not item and isinstance(node.get("dependentSchemas"), dict):
            for s in node["dependentSchemas"].values():
                require_zero(s, "dependentSchemas")

    def _resolve_allof_refs(self, node: dict, seen: set):
        """Yield the in-place subschemas contributing annotations:
        allOf members and the $ref target (cycle-guarded)."""
        for s in node.get("allOf") or []:
            yield s
        if "$ref" in node:
            target = self.registry.resolve_ref(
                node["$ref"], self.registry.base_of(node))
            if id(target) in seen:
                raise ExprUnsupported("recursive $ref under unevaluated*")
            seen.add(id(target))
            yield target

    def _static_prop_coverage(self, node: Any, seen: set,
                              top: bool = False) -> tuple[set, list, bool]:
        """(property names, patterns, covers_everything) statically
        evaluated by this schema when it succeeds. Verdict-safe: if a
        contributing applicator fails, the whole schema fails and the
        unevaluatedProperties outcome is irrelevant."""
        if not isinstance(node, dict):
            return set(), [], False
        self._coverage_guard(node, seen, item=False)
        names = set((node.get("properties") or {}).keys())
        pats = list((node.get("patternProperties") or {}).keys())
        # additionalProperties evaluates every remaining property; a
        # nested unevaluatedProperties (in a branch) does too. The
        # node's OWN unevaluatedProperties keyword is the one being
        # compiled — it doesn't cover itself.
        all_ = "additionalProperties" in node or (
            not top and "unevaluatedProperties" in node
        )
        for s in self._resolve_allof_refs(node, seen):
            n2, p2, a2 = self._static_prop_coverage(s, seen)
            names |= n2
            pats += p2
            all_ = all_ or a2
        return names, pats, all_

    def _static_item_coverage(self, node: Any, seen: set,
                              top: bool = False) -> tuple[int, bool]:
        """(covered prefix length, covers_everything) for array items."""
        if not isinstance(node, dict):
            return 0, False
        self._coverage_guard(node, seen, item=True)
        if "contains" in node:
            # contains annotates matched indices at runtime — in both
            # 2019-09 and 2020-12 per the reference
            # (UnevaluatedItemsCompiler.java:22-24)
            raise ExprUnsupported("unevaluatedItems with contains needs the UDF kernel")
        items = node.get("items")
        count = 0
        all_ = not top and "unevaluatedItems" in node
        if self.dialect == "2020-12":
            count = len(node.get("prefixItems") or [])
            if items is not None:
                all_ = True
        elif isinstance(items, list):
            count = len(items)
            if "additionalItems" in node:
                all_ = True
        elif items is not None:
            all_ = True
        for s in self._resolve_allof_refs(node, seen):
            c2, a2 = self._static_item_coverage(s, seen)
            count = max(count, c2)
            all_ = all_ or a2
        return count, all_

    def _c_unevaluated_props(self, sub, names: set, pats: list, val,
                             path: tuple) -> list[Check]: ...

    def _c_unevaluated_items(self, sub, covered: int, val,
                             path: tuple) -> list[Check]: ...

    def _string_pred(self, sub: Any) -> Callable[[Column], Column]:
        """propertyNames subschema as a predicate over plain string keys
        (shared by the variant map path and the typed-row map path)."""
        if sub is True or sub == {}:
            return lambda k: F.lit(True)
        if sub is False:
            return lambda k: F.lit(False)
        if not isinstance(sub, dict):
            raise ExprUnsupported("bad propertyNames schema")
        allowed = {"pattern", "minLength", "maxLength", "enum", "const", "type",
                   "format", "$comment", "title", "description"}
        if set(sub) - allowed:
            raise ExprUnsupported(f"propertyNames keywords {set(sub) - allowed} need the UDF kernel")

        def pred(k: Column) -> Column:
            ok = F.lit(True)
            if sub.get("type") not in (None, "string"):
                return F.lit(False)
            if "pattern" in sub:
                ok = ok & _nn(k.rlike(self._jrx(sub["pattern"])))
            if "minLength" in sub:
                ok = ok & (F.length(k) >= int(sub["minLength"]))
            if "maxLength" in sub:
                ok = ok & (F.length(k) <= int(sub["maxLength"]))
            if "enum" in sub:
                ok = ok & k.isin([m for m in sub["enum"] if isinstance(m, str)])
            if "const" in sub:
                ok = ok & (k == F.lit(sub["const"]))
            if "format" in sub and self.format_assertions:
                rx = FORMAT_REGEXES.get(sub["format"])
                if rx is None:
                    raise ExprUnsupported(f"format {sub['format']!r} in propertyNames")
                ok = ok & _nn(k.rlike("(?U)" + rx))
            return ok

        return pred

    def _c_enum(self, members: list, val, p: str, kw: str) -> Check:
        conds = []
        for m in members:
            if isinstance(m, bool):
                conds.append(self.v_is_bool(val) & (self.v_as_bool(val) == F.lit(m)))
            elif m is None:
                conds.append(self.v_is_null(val))
            elif isinstance(m, str):
                conds.append(self.v_is_string(val) & (self.v_as_string(val) == F.lit(m)))
            elif isinstance(m, (int, float, Decimal)):
                conds.append(self.v_is_number(val)
                             & self._num_check(val, lambda n, _m=self._dec_lit(m, kw): n == _m))
            else:
                raise ExprUnsupported(f"{kw} with composite member needs the UDF kernel")
        any_ok = _any(_nn(c) for c in conds)
        # EnumCompiler.java:57 / ConstCompiler.java:37: args = (instance
        # node, the enum array node / const schema node)
        if kw == "const":
            msg = msg_col("CONST", self.v_render(val),
                          jackson_to_string(members[0]))
        else:
            msg = msg_col("ENUM", self.v_render(val),
                          jackson_to_string(members))
        return Check(_nn(self.v_present(val) & ~any_ok), p, kw, msg)

    # -- abstract value ops (overridden per encoding) ------------------

    def v_present(self, val) -> Column: ...
    def v_type_is(self, val, t: str) -> Column: ...
    def v_is_string(self, val) -> Column: ...
    def v_is_number(self, val) -> Column: ...
    def v_is_bool(self, val) -> Column: ...
    def v_is_null(self, val) -> Column: ...
    def v_as_string(self, val) -> Column: ...
    def v_as_number(self, val) -> Column: ...
    def v_as_bool(self, val) -> Column: ...
    def v_render(self, val) -> Column: ...   # Jackson JsonNode.toString()
    def v_astext(self, val) -> Column: ...   # Jackson JsonNode.asText()
    def v_has_prop(self, val, name: str) -> Column: ...
    def _object_keywords(self, node, val, path) -> list[Check]: ...
    def _array_keywords(self, node, val, path) -> list[Check]: ...


class VariantCompiler(_BaseCompiler):
    """JSON-string mode: value = a VariantType Column (possibly NULL =
    absent). Type tests use ``schema_of_variant``; JSON null is VOID.

    With a :class:`SlotSink`, every per-row extraction of a value that
    is itself a slot (navigation, type tag, typed cast) becomes a slot:
    the checks read named columns, one projection per nesting depth.
    Two invariants keep that sound. Lambda scope: a value derived from
    a higher-order lambda variable is never a slot, so nothing built
    from it is hoisted and the lambda body stays inline. Totality: only
    ``try_variant_get`` / ``schema_of_variant`` / ``try_cast``
    expressions (and total combinations of them) are hoisted, because
    a slot is computed on every row, also where the guard of its use
    is false, and must never throw under ANSI."""

    # value = Column of VariantType

    def __init__(self, *args, slots: Optional[SlotSink] = None, **kwargs):
        super().__init__(*args, **kwargs)
        self._slots = slots

    def _memo(self, v: Column, op: Any, build: Callable[[], Column],
              when: Optional[str] = None) -> Column:
        """``build()`` as a slot when ``v`` is a slot, inline otherwise.
        ``build`` must be total (see the class docstring). A slot runs on
        every row, so ``when`` — the JSON type every use of a typed cast
        already tests for — keeps it from casting values of other types
        (a string cast to double is a parse that throws and catches)."""
        if self._slots is None or self._slots.key_of(v) is None:
            return build()
        if when is None:
            return self._slots.hoist(v, op, build)
        return self._slots.hoist(
            v, op, lambda: F.when(self.v_type_is(v, when), build()))

    def v_present(self, v: Column) -> Column:
        return v.isNotNull()

    def _vt(self, v: Column) -> Column:
        return self._memo(v, "type", lambda: F.schema_of_variant(v))

    def v_type_is(self, v: Column, t: str) -> Column:
        return self._memo(v, ("is", t), lambda: self._type_test(v, t))

    def _type_test(self, v: Column, t: str) -> Column:
        vt = self._vt(v)
        if t == "string":
            return _nn(vt == "STRING")
        if t == "boolean":
            return _nn(vt == "BOOLEAN")
        if t == "null":
            return _nn(vt == "VOID")
        if t == "array":
            return _nn(vt.startswith("ARRAY"))
        if t == "object":
            return _nn(vt.startswith("OBJECT"))
        if t == "number":
            return _nn((vt == "BIGINT") | (vt == "DOUBLE") | (vt == "FLOAT")
                       | vt.startswith("DECIMAL"))
        if t == "integer":
            # a BIGINT is integral without the decimal remainder
            frac_zero = self._num_check(v, lambda n: n % F.lit(1).cast(DEC) == 0)
            return _nn((vt == "BIGINT") | (self.v_is_number(v) & _nn(frac_zero)))
        raise ExprUnsupported(f"unknown type {t!r}")

    def v_is_string(self, v: Column) -> Column:
        return self.v_type_is(v, "string")

    def v_is_number(self, v: Column) -> Column:
        return self.v_type_is(v, "number")

    def v_is_bool(self, v: Column) -> Column:
        return self.v_type_is(v, "boolean")

    def v_is_null(self, v: Column) -> Column:
        return _nn(F.is_variant_null(v))

    def v_as_string(self, v: Column) -> Column:
        return self._memo(v, "string", lambda: F.try_variant_get(v, "$", "string"),
                          when="string")

    def v_as_number(self, v: Column) -> Column:
        # Reference number model (Jackson, jsonvalue.double_canonical):
        # FLOAT-SHAPED tokens (a '.' or exponent) parse to double and
        # all arithmetic runs on BigDecimal.valueOf(double). A
        # DECIMAL(p,s>0) variant keeps the RAW literal digits — e.g.
        # "0.100000000000000001" would compare greater than a maximum
        # of 0.1 even though the reference sees exactly 0.1 — so
        # float-shaped tokens are bounced through the double first;
        # Spark's double→decimal cast IS BigDecimal.valueOf on this
        # JVM (probe-verified: 2^62 → ...7900, the Java-17 toString
        # digits; caught by the fresh-seed expr sweep as a multipleOf 3
        # flip over 4.611686018427388e18). Integer tokens (BIGINT /
        # DECIMAL(p,0)) stay exact — Jackson keeps them as
        # Int/Long/BigInteger. (A float token ≥1e16 normalizing to
        # scale 0, e.g. "4611686018427387905.0", is indistinguishable
        # from a big-int token by variant type and stays exact — a
        # documented residual beyond double's 2^53 integer range.)
        def build() -> Column:
            vt = self._vt(v)
            float_tok = _nn((vt == "DOUBLE") | (vt == "FLOAT")
                            | (vt.startswith("DECIMAL") & ~vt.endswith(",0)")))
            return F.when(float_tok, self.v_as_number_dbl(v).try_cast(DEC)) \
                    .otherwise(F.try_variant_get(v, "$", DEC))

        return self._memo(v, "number", build, when="number")

    def v_as_number_dbl(self, v: Column) -> Column:
        return self._memo(v, "double", lambda: F.try_variant_get(v, "$", "double"),
                          when="number")

    def _num_render(self, v: Column) -> Column:
        """Jackson toString of a NUMBER variant. Int-family lexemes
        (BIGINT, or DECIMAL(p,0) beyond long range = a big-integer
        lexeme) print raw digits; float-family lexemes print
        Double.toString — Spark's double→string cast IS Java 17
        Double.toString on this JVM (probe-verified, see v_as_number).
        A DECIMAL(p,0) that FITS a long can only be a decimal lexeme
        ("1.0" — an integer lexeme that size parses straight to
        BIGINT), so it is float-family, same split as uniqueItems."""
        vt = self._vt(v)
        big = F.try_variant_get(v, "$", "bigint")
        int_fam = (vt == "BIGINT") | (
            vt.rlike(r"^DECIMAL\(\d+,0\)$") & big.isNull())
        return F.when(
            _nn(int_fam),
            F.try_variant_get(v, "$", "decimal(38,0)").cast("string"),
        ).otherwise(self.v_as_number_dbl(v).cast("string"))

    def v_render(self, v: Column) -> Column:
        """Jackson ``JsonNode.toString()`` — exact for every scalar.
        Containers go through ``to_json(variant)``, which canonicalizes
        (sorted object keys, normalized nested number lexemes) — a
        documented divergence from Jackson's insertion-order rendering,
        reachable only in enum/const messages over container
        instances."""
        return F.when(self.v_is_number(v), self._num_render(v)) \
                .otherwise(F.to_json(v))

    def v_astext(self, v: Column) -> Column:
        """Jackson ``JsonNode.asText()``: raw text for scalars, empty
        string for containers (ContainerNode.asText() == "")."""
        vt = self._vt(v)
        return (
            F.when(vt == "STRING", self.v_as_string(v))
            .when(vt.startswith("OBJECT") | vt.startswith("ARRAY"), F.lit(""))
            .when(self.v_is_number(v), self._num_render(v))
            .otherwise(F.to_json(v))  # BOOLEAN → true/false, VOID → null
        )

    def v_as_bool(self, v: Column) -> Column:
        return self._memo(v, "boolean", lambda: F.try_variant_get(v, "$", "boolean"),
                          when="boolean")

    def _child(self, v: Column, name: str) -> Column:
        if not _SAFE_KEY.match(name):
            raise ExprUnsupported(f"property name {name!r} not JSONPath-safe")
        return self._memo(v, ("child", name),
                          lambda: F.try_variant_get(v, f"$.{name}", "variant"))

    def _item(self, v: Column, i: int) -> Column:
        """Element ``i`` (0-based) of array value ``v``; NULL when absent."""
        return self._memo(v, ("item", i),
                          lambda: F.try_element_at(self._as_array(v), F.lit(i + 1)))

    def v_has_prop(self, v: Column, name: str) -> Column:
        return _nn(self.v_type_is(v, "object") & self._child(v, name).isNotNull())

    def _as_map(self, v: Column) -> Column:
        return self._memo(v, "map",
                          lambda: F.try_variant_get(v, "$", "map<string,variant>"),
                          when="object")

    def _as_array(self, v: Column) -> Column:
        return self._memo(v, "array",
                          lambda: F.try_variant_get(v, "$", "array<variant>"),
                          when="array")

    def _object_keywords(self, node: dict, v: Column, path: tuple) -> list[Check]:
        checks: list[Check] = []
        p = self._ptr(path)
        is_obj = self.v_type_is(v, "object")
        if "required" in node:
            for name in node["required"]:
                if not _SAFE_KEY.match(name):
                    raise ExprUnsupported(f"required name {name!r} not JSONPath-safe")
            # RequiredCompiler.java:40,52-54: ONE error joining every
            # missing name — in the HashSet's iteration order
            # (Collectors.toSet()), not declaration order
            req = list(node["required"])
            ordered = java_hashset_order(req)
            absent = {name: _nn(is_obj & self._child(v, name).isNull())
                      for name in req}
            any_missing = _any(absent.values()) \
                if req else F.lit(False)
            if req:
                joined = _names_if([(n, absent[n]) for n in ordered])
                checks.append(Check(any_missing, p, "required",
                                    msg_col("REQUIRED", joined)))
        if "properties" in node:
            for name, sub in node["properties"].items():
                checks.extend(self.compile(sub, self._child(v, name), path + (name,)))
        if "minProperties" in node:
            cnt = F.size(F.map_keys(self._as_map(v)))
            # Min/MaxPropertiesCompiler.java:41-43: args = (limit, size)
            checks.append(Check(_nn(is_obj & (cnt < int(node["minProperties"]))),
                                p, "minProperties",
                                msg_col("MIN_PROPERTIES",
                                        int(node["minProperties"]), _jint(cnt))))
        if "maxProperties" in node:
            cnt = F.size(F.map_keys(self._as_map(v)))
            checks.append(Check(_nn(is_obj & (cnt > int(node["maxProperties"]))),
                                p, "maxProperties",
                                msg_col("MAX_PROPERTIES",
                                        int(node["maxProperties"]), _jint(cnt))))
        if "propertyNames" in node:
            pn_sub = node["propertyNames"]
            m = self._as_map(v)

            def pn(k):
                # the KEY is the instance (kernel _kw_property_names):
                # wrap it into a variant losslessly via a JSON array
                vk = F.try_variant_get(
                    F.parse_json(F.to_json(F.array(k))), "$[0]", "variant")
                ptr = F.concat(F.lit(p + "/"), self._esc_seg(k))
                ok_k, ent_k = self._sub_entries(pn_sub, vk, path, ptr)
                wrapper = F.struct(
                    ptr.alias("path"),
                    F.lit("propertyNames").alias("keyword"),
                    F.concat(F.lit("invalid property name "),
                             self._pyrepr(k)).alias("message"))
                return ok_k, F.concat(F.array(wrapper), ent_k)

            fail, ent = self._keyed_check(F.map_keys(m), pn)
            checks.append(Check(_nn(is_obj & fail), p, None, entries=F.when(
                is_obj, ent).otherwise(_empty_viols())))
        pats = node.get("patternProperties") or {}
        pat_rx = [self._jrx(rx) for rx in pats]
        if pats:
            m = self._as_map(v)
            for rx, sub in pats.items():
                jrx = self._jrx(rx)
                keys = F.filter(F.map_keys(m),
                                lambda k: _nn(k.rlike(jrx)))

                def pp(k, _sub=sub):
                    # kernel: the pattern subschema's OWN errors at
                    # path/<key> — no synthetic wrapper
                    ptr = F.concat(F.lit(p + "/"), self._esc_seg(k))
                    return self._sub_entries(_sub, F.element_at(m, k),
                                             path, ptr)

                fail, ent = self._keyed_check(keys, pp)
                checks.append(Check(_nn(is_obj & fail), p, None,
                                    entries=F.when(is_obj, ent)
                                    .otherwise(_empty_viols())))
        if "additionalProperties" in node:
            add = node["additionalProperties"]
            props = node.get("properties") or {}
            known = list(props.keys())
            m = self._as_map(v)

            def is_additional(k):
                cond = F.lit(True)
                if known:
                    cond = cond & ~k.isin(known)
                for rx in pat_rx:
                    cond = cond & ~_nn(k.rlike(rx))
                return cond

            def ap_wrapper(ptr, k):
                return F.struct(
                    ptr.alias("path"),
                    F.lit("additionalProperties").alias("keyword"),
                    F.concat(F.lit("additional property "), self._pyrepr(k),
                             F.lit(" invalid")).alias("message"))

            def ap(k):
                ptr = F.concat(F.lit(p + "/"), self._esc_seg(k))
                ok_k, ent_k = self._sub_entries(add, F.element_at(m, k),
                                                path, ptr)
                return ok_k, F.concat(F.array(ap_wrapper(ptr, k)), ent_k)

            extra = F.filter(F.map_keys(m), is_additional)
            fail, ent = self._keyed_check(extra, ap)
            checks.append(Check(_nn(is_obj & fail), p, None,
                                entries=F.when(is_obj, ent)
                                .otherwise(_empty_viols())))

            # reference absorb (AdditionalPropertiesCompiler.java:75-95,
            # kernel _kw_properties_block): a MATCHED key whose every
            # matching subschema failed is re-validated against
            # additionalProperties and those errors surface too —
            # error-surface only, the verdict is already false.
            if add is not True and add != {} and (known or pats):
                crxs = [(rx, self._pyrx(rx)) for rx in pats]
                for n in known:
                    child = self._child(v, n)
                    present = _nn(is_obj & child.isNotNull())
                    succ = [ok_of(self.compile(props[n], child,
                                               path + (n,)))]
                    for rx, crx in crxs:
                        if crx.search(n):
                            succ.append(ok_of(self.compile(
                                pats[rx], child, path + (n,))))
                    succeeded = _any(succ)
                    cp = self._ptr(path + (n,))
                    a_ok, a_ent = self._sub_entries(add, child, path,
                                                    F.lit(cp))
                    wrapper = F.struct(
                        F.lit(cp).alias("path"),
                        F.lit("additionalProperties").alias("keyword"),
                        F.lit(f"additional property {n!r} invalid")
                         .alias("message"))
                    gate = present & ~_nn(succeeded) & ~_nn(a_ok)
                    checks.append(Check(F.lit(False), cp, None, entries=F.when(
                        gate, F.concat(F.array(wrapper), a_ent))
                        .otherwise(_empty_viols())))
                if pats:
                    def matched_not_known(k):
                        cond = F.lit(False)
                        for rx in pat_rx:
                            cond = cond | _nn(k.rlike(rx))
                        if known:
                            cond = cond & ~k.isin(known)
                        return cond

                    def ab(k):
                        el = F.element_at(m, k)
                        ptr = F.concat(F.lit(p + "/"), self._esc_seg(k))
                        succ = F.lit(False)
                        for rx, sub2 in pats.items():
                            succ = succ | (
                                _nn(k.rlike(self._jrx(rx)))
                                & _nn(ok_of(self.compile(sub2, el, path))))
                        a_ok, a_ent = self._sub_entries(add, el, path, ptr)
                        return F.when(
                            ~succ & ~_nn(a_ok),
                            F.concat(F.array(ap_wrapper(ptr, k)), a_ent)
                        ).otherwise(_empty_viols())

                    ent2 = F.coalesce(F.flatten(F.transform(
                        F.filter(F.map_keys(m), matched_not_known), ab)),
                        _empty_viols())
                    checks.append(Check(F.lit(False), p, None,
                                        entries=F.when(is_obj, ent2)
                                        .otherwise(_empty_viols())))
        return checks

    def _array_keywords(self, node: dict, v: Column, path: tuple) -> list[Check]:
        checks: list[Check] = []
        p = self._ptr(path)
        is_arr = self.v_type_is(v, "array")
        arr = self._as_array(v)
        items = node.get("items")
        prefix: list = []
        tail_schema = None
        if self.dialect == "2020-12":
            prefix = node.get("prefixItems") or []
            tail_schema = items
        else:
            if isinstance(items, list):
                prefix = items
                tail_schema = node.get("additionalItems")
            else:
                tail_schema = items
        # legacy absorb (v2019/AdditionalItemsCompiler.java:71-96,
        # kernel _kw_items_legacy.absorb): with BOTH items and
        # additionalItems, an index whose items subschema FAILED is
        # re-validated against additionalItems and those errors surface
        # too — error-surface only, the verdict is already false.
        absorb_sub = None
        if (self.dialect != "2020-12" and items is not None
                and "additionalItems" in node):
            a = node["additionalItems"]
            if a is not True and a != {}:
                absorb_sub = a

        def absorb_entry(el, ptr: Column, idx: Column) -> Column:
            a_ok, a_ent = self._sub_entries(absorb_sub, el, path, ptr)
            wrapper = F.struct(
                ptr.alias("path"),
                F.lit("additionalItems").alias("keyword"),
                F.concat(F.lit("item "), idx.cast("string"),
                         F.lit(" invalid against additionalItems"))
                 .alias("message"))
            return F.when(~_nn(a_ok), F.concat(F.array(wrapper), a_ent)) \
                    .otherwise(_empty_viols())

        for i, sub in enumerate(prefix):
            # kernel parity (_kw_items*): per-index subschema errors
            # surface at path/i with their OWN keywords — no synthetic
            # per-item wrapper
            el = self._item(v, i)
            has = _nn(is_arr & (F.size(arr) > i))
            sub_checks = self.compile(sub, el, path + (i,))
            for c in sub_checks:
                checks.append(_regate(c, has))
            if absorb_sub is not None:
                gate = has & ~_nn(ok_of(sub_checks))
                checks.append(Check(F.lit(False), p, None, entries=F.when(
                    gate, absorb_entry(el, F.lit(self._ptr(path + (i,))),
                                       F.lit(i))).otherwise(_empty_viols())))
        if tail_schema is not None and tail_schema is not True \
                and tail_schema != {}:
            start = len(prefix)
            # single-form legacy items: additionalItems only ever
            # re-validates FAILED indices (absorb); tuple-form tails
            # (additionalItems as the tail schema) have NO wrapper
            tail_absorb = absorb_sub if (absorb_sub is not None
                                         and not prefix) else None
            idxs = F.when(is_arr & (F.size(arr) > start),
                          F.sequence(F.lit(start + 1), F.size(arr))) \
                    .otherwise(F.array().cast("array<int>"))

            def ti(i):
                el = F.try_element_at(arr, i)
                ptr = F.concat(F.lit(p + "/"), (i - 1).cast("string"))
                ok_i, ent_i = self._sub_entries(tail_schema, el, path, ptr)
                if tail_absorb is not None:
                    ent_i = F.concat(ent_i, F.when(
                        ~_nn(ok_i), absorb_entry(el, ptr, i - 1))
                        .otherwise(_empty_viols()))
                return ok_i, ent_i

            fail, ent = self._keyed_check(idxs, ti)
            checks.append(Check(_nn(is_arr & fail), p, None,
                                entries=F.when(is_arr, ent)
                                .otherwise(_empty_viols())))
        if "contains" in node:
            sub_ok = self._value_pred(node["contains"], path)
            n = F.size(F.filter(arr, sub_ok))
            lo = 1
            hi = None
            if self.dialect != "draft7":
                lo = int(node.get("minContains", 1))
                hi = int(node["maxContains"]) if "maxContains" in node else None
            # ContainsCompiler: args = (limit, actual matching count);
            # two checks so each side carries its own reference message
            checks.append(Check(_nn(is_arr & (n < lo)), p, "contains",
                                msg_col("CONTAINS_MIN", lo, _jint(n))))
            if hi is not None:
                checks.append(Check(_nn(is_arr & (n >= lo) & (n > hi)), p, "maxContains",
                                    msg_col("CONTAINS_MAX", hi, _jint(n))))
        if "minItems" in node:
            checks.append(Check(_nn(is_arr & (F.size(arr) < int(node["minItems"]))), p,
                                "minItems",
                                msg_col("MIN_ITEMS", int(node["minItems"]),
                                        _jint(F.size(arr)))))
        if "maxItems" in node:
            # MaxItemsCompiler.java:35 quirk: args = (the KEYWORD STRING,
            # limit) — "Actual size" renders the LIMIT, fully static
            checks.append(Check(_nn(is_arr & (F.size(arr) > int(node["maxItems"]))), p,
                                "maxItems",
                                render_message("MAX_ITEMS", "maxItems",
                                               int(node["maxItems"]))))
        if node.get("uniqueItems") is True:
            # reference semantics: HashSet<JsonNode> — STRICT Jackson
            # equality where a number's FAMILY is part of its identity
            # (UniqueItemsCompiler.java:42-46; [1, 1.0] is unique).
            # Jackson families: integer lexeme -> Int/Long/BigInteger
            # (exact value identity); decimal/exponent lexeme ->
            # DoubleNode ("1.0", "1.00", "1e0" are ONE double). The
            # variant type alone can't tell: it normalizes "1.0" to
            # DECIMAL(1,0), same shape as a BigInteger-range "1e38"-
            # style integer — but a DECIMAL(p,0) whose value fits in a
            # BIGINT can only have come from a decimal lexeme (an
            # integer lexeme that size parses straight to BIGINT), so
            # int-family = BIGINT, or DECIMAL(p,0) beyond long range.
            # Composite elements: to_json of a variant normalizes key
            # order (good — ObjectNode.equals is order-insensitive) but
            # ALSO prints DECIMAL(1,0) 1.0 as "1", erasing the nested
            # family, so the canonical form is the variant TYPE string
            # (which keeps nested BIGINT vs DECIMAL vs DOUBLE apart)
            # plus the json. Residual caveat: nested "1e0" (DOUBLE) vs
            # "1.0" (DECIMAL) are one DoubleNode to Jackson but two
            # type tags here — the kernel is authoritative for nested
            # exponent-lexeme exotica. Second residual: a "-0.0"
            # DECIMAL lexeme normalizes to unsigned DECIMAL(1,0) in the
            # variant (sign unrecoverable), so [-0.0, 0.0] reads as a
            # duplicate here while Jackson's HashSet (sign-bit
            # hashCode) keeps them distinct — the kernel (strict_key
            # zero-sign marker) is authoritative; exponent-lexeme -0e0
            # stays DOUBLE and keeps its sign.
            def _canon_el(x):
                vt = F.schema_of_variant(x)
                big = F.try_variant_get(x, "$", "bigint")
                int_fam = (vt == F.lit("BIGINT")) | (
                    vt.rlike(r"^DECIMAL\(\d+,0\)$") & big.isNull())
                num = F.when(int_fam, F.concat(
                    F.lit("i:"),
                    F.try_variant_get(x, "$", "decimal(38,0)").cast("string"),
                )).otherwise(F.concat(
                    F.lit("d:"),
                    F.try_variant_get(x, "$", "double").cast("string")))
                return F.when(self.v_is_number(x), num).otherwise(
                    F.concat(vt, F.lit("|"), F.to_json(x)))

            # the whole transform is total and reads only ``arr``, so it
            # is a slot too; its lambda body stays inside it
            canon = self._memo(v, "canon",
                               lambda: F.transform(self._as_array(v), _canon_el))
            # UniqueItemsCompiler.java:46: arg = the FIRST duplicate
            # item's instance JsonPointer (kernel: path + (i,))
            first_dup = F.array_min(F.filter(
                F.transform(
                    # greatest(...,2) keeps the sequence ascending (and
                    # try_element_at in range) for 0/1-element arrays —
                    # the message is only consumed when the check fires
                    F.sequence(F.lit(2), F.greatest(F.size(canon), F.lit(2))),
                    lambda i: F.when(
                        F.array_position(
                            F.slice(canon, 1, i - 1),
                            F.try_element_at(canon, i)) > 0, i)),
                lambda x: x.isNotNull()))
            dup_ptr = F.concat(F.lit(p + "/"), (first_dup - 1).cast("string"))
            checks.append(Check(_nn(is_arr & (F.size(F.array_distinct(canon)) != F.size(arr))),
                                p, "uniqueItems",
                                msg_col("UNIQUE_ITEMS", dup_ptr)))
        return checks

    # -- runtime annotation coverage for unevaluated* ------------------
    # kernel parity (_kw_properties_block / _kw_items_* commit their
    # evaluated annotations ONLY when the whole block succeeded): a key
    # covered by a FAILING contributor block is unevaluated at runtime
    # and is re-validated by unevaluated* (wrapper + sub errors), so
    # coverage is block_ok-gated per contributor, not a static union.

    _ANN_ONLY = frozenset({
        "$comment", "title", "description", "default", "examples",
        "deprecated", "readOnly", "writeOnly", "$defs", "definitions",
        "$id", "$anchor", "$schema", "$vocabulary",
    })

    @staticmethod
    def _never_fails(s) -> bool:
        return s is True or s == {}

    def _infallible_cov(self, s) -> bool:
        """Conservatively true when ``s`` can never fail on ANY
        instance (so its annotations always commit and no runtime gate
        is needed)."""
        if s is True or s == {}:
            return True
        if s is False:
            return False  # false schema ALWAYS fails — never commits
        if not isinstance(s, dict):
            return True  # non-schema node compiles to always-OK
        for k, v in s.items():
            if k in self._ANN_ONLY:
                continue
            if k in ("properties", "patternProperties"):
                if any(not self._infallible_cov(x) for x in v.values()):
                    return False
            elif k in ("additionalProperties", "additionalItems",
                       "propertyNames", "unevaluatedProperties",
                       "unevaluatedItems"):
                if not self._infallible_cov(v):
                    return False
            elif k in ("items", "prefixItems", "allOf"):
                subs = v if isinstance(v, list) else [v]
                if any(not self._infallible_cov(x) for x in subs):
                    return False
            else:
                return False  # contains/required/type/... can fail
        return True

    def _prop_contributors(self, node, val, path: tuple) -> list[tuple]:
        """(names, pats, has_add, can_fail, gate_ok) per annotation
        contributor of the TOP node. Its OWN property block is gated on
        the BLOCK's success (same-node siblings share the annotation
        list — kernel ``_kw_properties_block`` commits iff the block
        ok); each in-place applicator subschema (allOf member / $ref
        target) contributes its full-subtree static coverage gated on
        the MEMBER's whole ok — the kernel drops a failed subschema's
        annotations wholesale (``validator.py:419,451-454``)."""
        self._coverage_guard(node, item=False)
        out = []
        names = set(node.get("properties") or {})
        pats = list(node.get("patternProperties") or {})
        has_add = "additionalProperties" in node
        if names or pats or has_add:
            block = {k: node[k] for k in
                     ("properties", "patternProperties",
                      "additionalProperties") if k in node}
            can_fail = not self._infallible_cov(block)
            bok = ok_of(self._object_keywords(block, val, path)) \
                if can_fail else F.lit(True)
            out.append((names, pats, has_add, can_fail, bok))
        for m in self._resolve_allof_refs(node, set()):
            m_names, m_pats, m_all = self._static_prop_coverage(m, set())
            if not (m_names or m_pats or m_all):
                continue
            if self._infallible_cov(m):
                out.append((m_names, m_pats, m_all, False, F.lit(True)))
            else:
                out.append((m_names, m_pats, m_all, True,
                            ok_of(self.compile(m, val, path))))
        return out

    def _item_contributors(self, node, val, path: tuple) -> list[tuple]:
        """(covered_prefix, has_all, can_fail, gate_ok) per contributor
        — same gating model as :meth:`_prop_contributors`."""
        self._coverage_guard(node, item=True)
        if "contains" in node:
            raise ExprUnsupported(
                "unevaluatedItems with contains needs the UDF kernel")
        out = []
        items = node.get("items")
        covered = 0
        has_all = False
        block: dict = {}
        if self.dialect == "2020-12":
            if "prefixItems" in node:
                covered = len(node["prefixItems"] or [])
                block["prefixItems"] = node["prefixItems"]
            if items is not None:
                has_all = True
                block["items"] = items
        elif isinstance(items, list):
            covered = len(items)
            block["items"] = items
            if "additionalItems" in node:
                has_all = True
                block["additionalItems"] = node["additionalItems"]
        elif items is not None:
            has_all = True
            block["items"] = items
        if block:
            can_fail = not self._infallible_cov(block)
            bok = ok_of(self._array_keywords(block, val, path)) \
                if can_fail else F.lit(True)
            out.append((covered, has_all, can_fail, bok))
        for m in self._resolve_allof_refs(node, set()):
            c_m, all_m = self._static_item_coverage(m, set())
            if c_m == 0 and not all_m:
                continue
            if self._infallible_cov(m):
                out.append((c_m, all_m, False, F.lit(True)))
            else:
                out.append((c_m, all_m, True,
                            ok_of(self.compile(m, val, path))))
        return out

    def _unevaluated_prop_checks(self, node: dict, val, path: tuple) -> list[Check]:
        sub = node["unevaluatedProperties"]
        infos = self._prop_contributors(node, val, path)
        if any(has_add and not can_fail
               for _, _, has_add, can_fail, _ in infos):
            return []  # an infallible contributor evaluates every key
        return self._c_unevaluated_props_rt(sub, infos, val, path)

    def _unevaluated_item_checks(self, node: dict, val, path: tuple) -> list[Check]:
        sub = node["unevaluatedItems"]
        infos = self._item_contributors(node, val, path)
        if any(has_all and not can_fail
               for _, has_all, can_fail, _ in infos):
            return []  # an infallible contributor evaluates every index
        return self._c_unevaluated_items_rt(sub, infos, val, path)

    def _c_unevaluated_props_rt(self, sub, infos: list, v, path) -> list[Check]:
        p = self._ptr(path)
        is_obj = self.v_type_is(v, "object")
        m = self._as_map(v)
        if sub is True or sub == {}:
            return []

        def is_uneval(k):
            ev = F.lit(False)
            for names, pats, has_add, _cf, bok in infos:
                if has_add:
                    matched = F.lit(True)
                else:
                    matched = F.lit(False)
                    if names:
                        matched = matched | k.isin(sorted(names))
                    for rx in pats:
                        matched = matched | _nn(k.rlike(self._jrx(rx)))
                ev = ev | (_nn(bok) & matched)
            return ~ev

        extra = F.filter(F.map_keys(m), is_uneval)

        def ue(k):
            # kernel _kw_unevaluated_properties: wrapper + sub errors
            ptr = F.concat(F.lit(p + "/"), self._esc_seg(k))
            ok_k, ent_k = self._sub_entries(sub, F.element_at(m, k), path, ptr)
            wrapper = F.struct(
                ptr.alias("path"),
                F.lit("unevaluatedProperties").alias("keyword"),
                F.concat(F.lit("unevaluated property "), self._pyrepr(k),
                         F.lit(" invalid")).alias("message"))
            return ok_k, F.concat(F.array(wrapper), ent_k)

        fail, ent = self._keyed_check(extra, ue)
        return [Check(_nn(is_obj & fail), p, None,
                      entries=F.when(is_obj, ent).otherwise(_empty_viols()))]

    def _c_unevaluated_items_rt(self, sub, infos: list, v, path) -> list[Check]:
        p = self._ptr(path)
        is_arr = self.v_type_is(v, "array")
        arr = self._as_array(v)
        if sub is True or sub == {}:
            return []

        def is_uneval(i):
            ev = F.lit(False)
            for covered, has_all, _cf, bok in infos:
                within = F.lit(True) if has_all else (i <= covered)
                ev = ev | (_nn(bok) & within)
            return ~ev

        idxs = F.filter(
            F.when(is_arr & (F.size(arr) > 0),
                   F.sequence(F.lit(1), F.size(arr)))
             .otherwise(F.array().cast("array<int>")),
            is_uneval)

        def ui(i):
            # kernel _kw_unevaluated_items: wrapper + sub errors
            el = F.try_element_at(arr, i)
            ptr = F.concat(F.lit(p + "/"), (i - 1).cast("string"))
            ok_i, ent_i = self._sub_entries(sub, el, path, ptr)
            wrapper = F.struct(
                ptr.alias("path"),
                F.lit("unevaluatedItems").alias("keyword"),
                F.concat(F.lit("unevaluated item at "), (i - 1).cast("string"),
                         F.lit(" invalid")).alias("message"))
            return ok_i, F.concat(F.array(wrapper), ent_i)

        fail, ent = self._keyed_check(idxs, ui)
        return [Check(_nn(is_arr & fail), p, None,
                      entries=F.when(is_arr, ent).otherwise(_empty_viols()))]

    def _value_pred(self, sub: Any, path: tuple) -> Callable[[Column], Column]:
        """Subschema as a reusable predicate fn(variant) -> ok Column,
        for higher-order contexts (forall/filter lambdas)."""

        def pred(el: Column) -> Column:
            return ok_of(self.compile(sub, el, path))

        return pred

    # -- runtime-addressed violation entries ---------------------------
    # kernel error-surface parity for applicators whose error paths are
    # built from RUNTIME keys/indices (_kw_properties_block,
    # _kw_property_names, _kw_items_*, _kw_unevaluated_* in
    # core/validator.py): each produces an
    # array<struct<path,keyword,message>> Column carried on
    # Check.entries, so the expression path emits the SAME per-key /
    # per-index violations the kernel (and the reference) does.

    @staticmethod
    def _esc_seg(k: Column) -> Column:
        """RFC 6901 escaping of a runtime pointer segment."""
        return F.replace(F.replace(k, F.lit("~"), F.lit("~0")),
                         F.lit("/"), F.lit("~1"))

    @staticmethod
    def _pyrepr(k: Column) -> Column:
        """Python ``repr()`` of a string key — the kernel's wrapper
        messages interpolate ``{k!r}``. Covers the printable subset
        (backslash, quote selection, \\n/\\r/\\t); other control-char
        escapes are kernel-only exotica, as is the ``'\\ud800'`` the
        kernel renders for an unpaired surrogate (the variant already
        holds that key as ``?``)."""
        esc = F.replace(k, F.lit("\\"), F.lit("\\\\"))
        for raw, rep in (("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
            esc = F.replace(esc, F.lit(raw), F.lit(rep))
        use_dq = F.contains(k, F.lit("'")) & ~F.contains(k, F.lit('"'))
        return F.when(use_dq, F.concat(F.lit('"'), esc, F.lit('"'))) \
            .otherwise(F.concat(F.lit("'"),
                                F.replace(esc, F.lit("'"), F.lit("\\'")),
                                F.lit("'")))

    def _sub_entries(self, sub: Any, el: Column, base_path: tuple,
                     ptr: Column) -> tuple[Column, Column]:
        """Compile ``sub`` against element ``el`` addressed by the
        RUNTIME pointer ``ptr``; return ``(ok, entries)`` where entry
        paths are ``ptr`` plus each check's static suffix below the
        element (nested runtime entries are re-based the same way)."""
        token = "\x00rt\x00"
        checks = self.compile(sub, el, base_path + (token,))
        prefix = self._ptr(base_path + (token,))
        plen = len(prefix)

        def rebase_msg(m) -> Column:
            # messages can EMBED the check's pointer (uniqueItems
            # renders the duplicate's JSON pointer) — swap the
            # sentinel-rendered prefix for the runtime pointer there
            # too, not just in the entry's path field
            if isinstance(m, str):
                if token not in m:
                    return F.lit(m)
                bits = m.split(prefix)
                out: list[Column] = [F.lit(bits[0])]
                for b in bits[1:]:
                    out += [ptr, F.lit(b)]
                return F.concat(*out)
            return F.replace(m, F.lit(prefix), ptr)

        parts: list[Column] = []
        empty = _empty_viols()
        for c in checks:
            if c.keyword is None:
                continue
            suffix = c.path[plen:]
            pcol = F.concat(ptr, F.lit(suffix)) if suffix else ptr
            parts.append(_entry_if(c.fail, pcol, c.keyword, rebase_msg(c.message),
                                   empty))
        for c in checks:
            if c.entries is not None:
                parts.append(F.transform(c.entries, lambda e: F.struct(
                    F.concat(ptr, F.substring(e["path"], plen + 1, 2147483647))
                     .alias("path"),
                    e["keyword"].alias("keyword"),
                    F.replace(e["message"], F.lit(prefix), ptr)
                     .alias("message"))))
        return ok_of(checks), F.coalesce(_concat_viols(parts, empty), empty)

    @staticmethod
    def _keyed_check(keys: Column, per_key) -> tuple[Column, Column]:
        """Fan a (ok, entries) builder over a runtime key/index array in
        ONE transform; return (any_fail, flattened failing entries)."""

        def mk(k):
            ok_k, ent_k = per_key(k)
            return F.struct(_nn(ok_k).alias("ok"), ent_k.alias("ent"))

        both = F.transform(keys, mk)
        any_fail = _nn(F.exists(both, lambda x: ~x["ok"]))
        ent = F.coalesce(
            F.flatten(F.transform(F.filter(both, lambda x: ~x["ok"]),
                                  lambda x: x["ent"])),
            _empty_viols())
        return any_fail, ent

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_NUMERIC = _INTEGRAL + (T.FloatType, T.DoubleType, T.DecimalType)


class TypedRowCompiler(_BaseCompiler):
    """Typed-row mode: value = (Column, Spark DataType). The JSON type
    of a value is statically known from the column type, so ``type``
    checks fold to constants; NULL column values mean *absent* (so
    ``required`` ⇔ IS NOT NULL — the data-validation convention for the
    source-code table, FIXTURES.md §1)."""

    # value = (col: Column | None, dtype: DataType | None, root_fields: dict | None)
    # root value: (None, None, {name: (Column, DataType)})

    def v_present(self, val) -> Column:
        col, dt, fields = val
        if fields is not None:
            return F.lit(True)
        return col.isNotNull()

    def _static(self, val, want: str) -> Optional[bool]:
        """Statically decide whether this value's Spark type can ever
        match JSON type ``want`` (None = needs runtime check)."""
        col, dt, fields = val
        if fields is not None:
            return want == "object"
        if isinstance(dt, T.StringType):
            return want == "string"
        if isinstance(dt, T.BooleanType):
            return want == "boolean"
        if isinstance(dt, _INTEGRAL):
            return want in ("integer", "number")
        if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            if want == "number":
                return True
            if want == "integer":
                return None  # runtime fraction check
            return False
        if isinstance(dt, T.ArrayType):
            return want == "array"
        if isinstance(dt, (T.StructType, T.MapType)):
            return want == "object"
        if isinstance(dt, T.NullType):
            return want == "null"
        if isinstance(dt, (T.DateType, T.TimestampType)):
            return want == "string"  # serialized as RFC3339 strings in JSON
        raise ExprUnsupported(f"unsupported column type {dt}")

    def v_type_is(self, val, t: str) -> Column:
        col, dt, fields = val
        if t == "null":
            # typed mode: NULL means absent, not JSON null
            return F.lit(False)
        st = self._static(val, t)
        if st is None and t == "integer":
            frac_zero = self._num_check(val, lambda n: n % F.lit(1).cast(DEC) == 0)
            return _nn(frac_zero)
        if st:
            return self.v_present(val)
        return F.lit(False)

    def v_is_string(self, val) -> Column:
        return self.v_type_is(val, "string")

    def v_is_number(self, val) -> Column:
        return self.v_type_is(val, "number")

    def v_is_bool(self, val) -> Column:
        return self.v_type_is(val, "boolean")

    def v_is_null(self, val) -> Column:
        return F.lit(False)

    def v_as_string(self, val) -> Column:
        col, dt, fields = val
        if isinstance(dt, (T.DateType, T.TimestampType)):
            return col.cast("string")
        return col if isinstance(dt, T.StringType) else col.cast("string")

    def v_as_number(self, val) -> Column:
        col, dt, fields = val
        # try_cast: a double column can hold magnitudes beyond
        # decimal(38,18); ANSI cast would throw, try_cast yields NULL
        # and _num_check falls to the double branch. For double/float
        # columns this cast is BigDecimal.valueOf(double) on the JVM —
        # the same Jackson-double model the kernel twin applies via
        # jsonvalue.double_canonical (Java-17 toString digits).
        return col.try_cast(DEC)

    def v_as_number_dbl(self, val) -> Column:
        col, dt, fields = val
        return col.cast("double")

    def v_as_bool(self, val) -> Column:
        col, dt, fields = val
        return col

    def _quoted_json(self, col: Column) -> Column:
        """A string-ish column as its JSON lexeme (quotes + Jackson
        escaping): serialize through to_json and strip the array
        brackets — byte-identical to the doc serialization the kernel
        twin parses (apply_table's to_json(struct(...)))."""
        j = F.to_json(F.array(col))
        return F.substring(j, 2, F.length(j) - 2)

    def v_render(self, val) -> Column:
        """Jackson ``JsonNode.toString()`` of this value as the kernel
        twin sees it (the row serialized via to_json): typed columns
        make every scalar exact; containers render via to_json(col) —
        identical to the parsed doc (struct field order, nulls dropped).
        Residual: a DecimalType nested INSIDE a container keeps its raw
        scale ("1.50") where Jackson's double canonicalizes ("1.5") —
        scalar decimal columns take the double-canonical path."""
        col, dt, fields = val
        if fields is not None:  # root object
            return F.to_json(F.struct(
                *[c.alias(n) for n, (c, _t) in fields.items()]))
        if isinstance(dt, T.StringType):
            return self._quoted_json(col)
        if isinstance(dt, (T.DateType, T.TimestampType)):
            return self._quoted_json(col)
        if isinstance(dt, T.BooleanType):
            return col.cast("string")
        if isinstance(dt, _INTEGRAL):
            return col.cast("string")
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            # Spark double→string cast IS Java 17 Double.toString
            return col.cast("double").cast("string")
        if isinstance(dt, T.DecimalType):
            # serialized by to_json with raw scale → float-shaped token
            # → the kernel's Jackson-double canonical form
            return col.cast("double").cast("string")
        if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
            return F.to_json(col)
        if isinstance(dt, T.NullType):
            return F.lit(None).cast("string")
        return col.cast("string")

    def v_astext(self, val) -> Column:
        """Jackson ``JsonNode.asText()``: raw scalar text, "" for
        containers."""
        col, dt, fields = val
        if fields is not None:
            return F.lit("")
        if isinstance(dt, T.StringType):
            return col
        if isinstance(dt, (T.DateType, T.TimestampType)):
            # the parsed JSON lexeme without quotes (ISO form) — safe to
            # strip because ISO date/ts strings never need escaping
            q = self._quoted_json(col)
            return F.substring(q, 2, F.length(q) - 2)
        if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
            return F.lit("")
        return self.v_render(val)

    def _field(self, val, name: str):
        col, dt, fields = val
        if fields is not None:
            if name not in fields:
                return (F.lit(None), T.NullType(), None)
            c, d = fields[name]
            return (c, d, None)
        if isinstance(dt, T.StructType):
            sub = {f.name: f.dataType for f in dt.fields}
            if name not in sub:
                return (F.lit(None), T.NullType(), None)
            return (col.getField(name), sub[name], None)
        if isinstance(dt, T.MapType):
            return (F.element_at(col, F.lit(name)), dt.valueType, None)
        return (F.lit(None), T.NullType(), None)

    def v_has_prop(self, val, name: str) -> Column:
        child = self._field(val, name)
        return _nn(self.v_present(val) & self.v_present(child))

    def _name_kernel(self):
        """Lazily built Python-kernel compiler used to evaluate
        propertyNames subschemas against the STATIC field-name set at
        compile time (names are compile-time constants in typed mode,
        so the subschema runs zero times at runtime)."""
        if getattr(self, "_nk", None) is None:
            from ..core.validator import CompileConfig as _KCfg, _Compiler as _K

            self._nk = _K(self.registry, _KCfg(
                dialect=self.dialect,
                format_assertions=self.format_assertions,
                collect_errors=False,
                regex_factory=self.regex_factory,
            ))
        return self._nk

    def _name_ok(self, sub: Any, name: str) -> bool:
        try:
            fn = self._name_kernel().compile_node(sub)
            return bool(fn(name, (), ())[0])
        except ExprUnsupported:
            raise
        except Exception as e:
            raise ExprUnsupported(
                f"propertyNames subschema not evaluable at compile time: {e}"
            ) from e

    def _object_keywords(self, node: dict, val, path: tuple) -> list[Check]:
        checks: list[Check] = []
        p = self._ptr(path)
        col, dt, fields = val
        if "required" in node and node["required"]:
            # ONE error joining every missing name in HashSet iteration
            # order (RequiredCompiler.java:40,52-54 — kernel parity)
            req = list(node["required"])
            absent = {name: _nn(self.v_present(val)
                                & ~self.v_present(self._field(val, name)))
                      for name in req}
            any_missing = _any(absent.values())
            joined = _names_if([(n, absent[n]) for n in java_hashset_order(req)])
            checks.append(Check(any_missing, p, "required",
                                msg_col("REQUIRED", joined)))
        if "properties" in node:
            for name, sub in node["properties"].items():
                checks.extend(self.compile(sub, self._field(val, name), path + (name,)))
        if fields is not None or isinstance(dt, T.StructType):
            checks.extend(self._static_object_keywords(node, val, path))
        elif isinstance(dt, T.MapType):
            checks.extend(self._map_object_keywords(node, val, path))
        # any other column type: the value can never be a JSON object,
        # so object keywords are type-gated no-ops
        # (compilers/MinPropertiesCompiler.java:32-47 — non-objects pass)
        return checks

    def _static_object_keywords(self, node: dict, val, path: tuple) -> list[Check]:
        """minProperties / maxProperties / patternProperties /
        propertyNames / additionalProperties over a STATIC field set
        (root fields dict or a struct column). The field-name set is a
        compile-time constant, but PRESENCE is dynamic (NULL = absent,
        the typed-mode convention), so property counts compile to sums
        of presence casts and name-matched subschemas attach to the
        matching fields — never silently skipped (round-2 wrong-answer
        fix; reference semantics: MinPropertiesCompiler.java:32-47,
        PatternPropertiesCompiler.java:33-69)."""
        checks: list[Check] = []
        p = self._ptr(path)
        col, dt, fields = val
        if fields is not None:
            field_names = list(fields.keys())
        else:
            field_names = [f.name for f in dt.fields]
        is_obj = self.v_present(val)

        if "minProperties" in node or "maxProperties" in node:
            if field_names:
                cnt = reduce(
                    lambda a, b: a + b,
                    [self.v_present(self._field(val, n)).cast("int") for n in field_names],
                )
            else:
                cnt = F.lit(0)
            if "minProperties" in node:
                checks.append(Check(
                    _nn(is_obj & (cnt < int(node["minProperties"]))), p,
                    "minProperties", msg_col("MIN_PROPERTIES",
                                             int(node["minProperties"]),
                                             _jint(cnt))))
            if "maxProperties" in node:
                checks.append(Check(
                    _nn(is_obj & (cnt > int(node["maxProperties"]))), p,
                    "maxProperties", msg_col("MAX_PROPERTIES",
                                             int(node["maxProperties"]),
                                             _jint(cnt))))

        pats = node.get("patternProperties") or {}
        if pats:
            for rx, sub in pats.items():
                crx = self._pyrx(rx)  # Python re, Java dialect bridged
                for n in field_names:
                    if crx.search(n):
                        checks.extend(self.compile(sub, self._field(val, n), path + (n,)))

        if "propertyNames" in node:
            sub = node["propertyNames"]
            for n in field_names:
                if not self._name_ok(sub, n):
                    # kernel parity: error at path/<name>
                    checks.append(Check(
                        _nn(is_obj & self.v_present(self._field(val, n))),
                        self._ptr(path + (n,)),
                        "propertyNames", f"invalid property name {n!r}"))

        if "additionalProperties" in node:
            known = set((node.get("properties") or {}).keys())
            crxs = [self._pyrx(r) for r in pats]
            extra = [n for n in field_names
                     if n not in known and not any(r.search(n) for r in crxs)]
            sub = node["additionalProperties"]
            for n in extra:
                child = self._field(val, n)
                cp = self._ptr(path + (n,))
                if sub is False:
                    # kernel parity: the compiled-False subschema error
                    # at path/<name>, then the wrapper error
                    checks.append(Check(
                        _nn(is_obj & self.v_present(child)), cp,
                        "false", render_message("FALSE_SCHEMA")))
                    checks.append(Check(
                        _nn(is_obj & self.v_present(child)), cp,
                        "additionalProperties",
                        f"additional property {n!r} invalid"))
                elif sub is not True and sub != {}:
                    sub_checks = self.compile(sub, child, path + (n,))
                    checks.extend(sub_checks)
                    checks.append(Check(
                        _nn(is_obj & self.v_present(child) & ~ok_of(sub_checks)),
                        cp, "additionalProperties",
                        f"additional property {n!r} invalid"))
        return checks

    def _map_object_keywords(self, node: dict, val, path: tuple) -> list[Check]:
        """Object keywords over a map column: the key set is dynamic, so
        counts/name checks run over the PRESENT keys (entries with
        non-NULL values — NULL map values mean absent, consistent with
        the typed-row convention everywhere else)."""
        checks: list[Check] = []
        p = self._ptr(path)
        col, dt, fields = val
        needs_names = any(k in node for k in
                          ("patternProperties", "propertyNames", "additionalProperties"))
        if needs_names and not isinstance(dt.keyType, T.StringType):
            raise ExprUnsupported("name-matching object keywords need string map keys")
        m = col
        present_keys = F.filter(F.map_keys(m),
                                lambda k: F.element_at(m, k).isNotNull())
        is_obj = self.v_present(val)
        vt = dt.valueType

        def value_pred(sub):
            def pred(el: Column) -> Column:
                return ok_of(self.compile(sub, (el, vt, None), path))
            return pred

        if "minProperties" in node:
            checks.append(Check(
                _nn(is_obj & (F.size(present_keys) < int(node["minProperties"]))), p,
                "minProperties", msg_col("MIN_PROPERTIES",
                                         int(node["minProperties"]),
                                         _jint(F.size(present_keys)))))
        if "maxProperties" in node:
            checks.append(Check(
                _nn(is_obj & (F.size(present_keys) > int(node["maxProperties"]))), p,
                "maxProperties", msg_col("MAX_PROPERTIES",
                                         int(node["maxProperties"]),
                                         _jint(F.size(present_keys)))))
        if "propertyNames" in node:
            name_ok = self._string_pred(node["propertyNames"])
            checks.append(Check(
                _nn(is_obj & ~_nn(F.forall(present_keys, name_ok))), p,
                "propertyNames", "invalid property name"))
        pat_rx = [self._jrx(rx) for rx in (node.get("patternProperties") or {})]
        if "patternProperties" in node:
            for rx, sub in node["patternProperties"].items():
                sub_ok = value_pred(sub)
                keys = F.filter(present_keys, lambda k: _nn(k.rlike(self._jrx(rx))))
                all_ok = F.forall(keys, lambda k: sub_ok(F.element_at(m, k)))
                checks.append(Check(
                    _nn(is_obj & ~_nn(all_ok)), p, "patternProperties",
                    f"value of property matching /{rx}/ invalid"))
        if "additionalProperties" in node:
            known = list((node.get("properties") or {}).keys())

            def is_additional(k):
                cond = F.lit(True)
                if known:
                    cond = cond & ~k.isin(known)
                for rx in pat_rx:
                    cond = cond & ~_nn(k.rlike(rx))
                return cond

            extra = F.filter(present_keys, is_additional)
            sub = node["additionalProperties"]
            if sub is False:
                checks.append(Check(
                    _nn(is_obj & (F.size(extra) > 0)), p,
                    "additionalProperties", "additional properties present"))
            elif sub is not True and sub != {}:
                sub_ok = value_pred(sub)
                all_ok = F.forall(extra, lambda k: sub_ok(F.element_at(m, k)))
                checks.append(Check(
                    _nn(is_obj & ~_nn(all_ok)), p,
                    "additionalProperties", "an additional property is invalid"))
        return checks

    def _array_keywords(self, node: dict, val, path: tuple) -> list[Check]:
        checks: list[Check] = []
        p = self._ptr(path)
        col, dt, fields = val
        if fields is not None or not isinstance(dt, T.ArrayType):
            if any(k in node for k in ("items", "prefixItems", "contains", "minItems",
                                        "maxItems", "uniqueItems", "additionalItems")):
                # array keywords are type-gated no-ops on non-arrays
                return checks
            return checks
        et = dt.elementType
        is_arr = self.v_present(val)
        items = node.get("items")
        prefix: list = []
        tail = None
        if self.dialect == "2020-12":
            prefix = node.get("prefixItems") or []
            tail = items
        elif isinstance(items, list):
            prefix, tail = items, node.get("additionalItems")
        else:
            tail = items

        def el_pred(sub, pth):
            def pred(el: Column) -> Column:
                return ok_of(self.compile(sub, (el, et, None), pth))
            return pred

        for i, sub in enumerate(prefix):
            # kernel parity: per-index subschema errors at path/i with
            # their own keywords (no synthetic wrapper)
            has = _nn(is_arr & (F.size(col) > i))
            el = (F.try_element_at(col, F.lit(i + 1)), et, None)
            for c in self.compile(sub, el, path + (i,)):
                checks.append(_regate(c, has))
        if tail is False:
            checks.append(Check(_nn(is_arr & (F.size(col) > len(prefix))), p, "items",
                                "extra items not allowed"))
        elif tail not in (None, True):
            start = len(prefix)
            t_arr = F.slice(col, start + 1, F.greatest(F.size(col) - start, F.lit(0))) if start else col
            checks.append(Check(_nn(is_arr & ~_nn(F.forall(t_arr, el_pred(tail, path)))),
                                p, "items", "an item is invalid"))
        if "contains" in node:
            n = F.size(F.filter(col, el_pred(node["contains"], path)))
            lo = int(node.get("minContains", 1)) if self.dialect != "draft7" else 1
            hi = int(node["maxContains"]) if ("maxContains" in node and self.dialect != "draft7") else None
            checks.append(Check(_nn(is_arr & (n < lo)), p, "contains",
                                msg_col("CONTAINS_MIN", lo, _jint(n))))
            if hi is not None:
                checks.append(Check(_nn(is_arr & (n >= lo) & (n > hi)), p, "maxContains",
                                    msg_col("CONTAINS_MAX", hi, _jint(n))))
        if "minItems" in node:
            checks.append(Check(_nn(is_arr & (F.size(col) < int(node["minItems"]))), p,
                                "minItems",
                                msg_col("MIN_ITEMS", int(node["minItems"]),
                                        _jint(F.size(col)))))
        if "maxItems" in node:
            checks.append(Check(_nn(is_arr & (F.size(col) > int(node["maxItems"]))), p,
                                "maxItems",
                                render_message("MAX_ITEMS", "maxItems",
                                               int(node["maxItems"]))))
        if node.get("uniqueItems") is True:
            if isinstance(et, (T.ArrayType, T.StructType, T.MapType)):
                canon = F.transform(col, F.to_json)
            elif isinstance(et, T.DecimalType):
                # normalize scale within the (bounded, ≤38-digit) type
                canon = F.transform(col, lambda x: x.cast(DEC).cast("string"))
            elif isinstance(et, _NUMERIC):
                # one physical type per column: plain string form is a
                # faithful value key, and never overflows (a DEC cast
                # would throw under ANSI for big doubles)
                canon = F.transform(col, lambda x: x.cast("string"))
            else:
                canon = col
            # UniqueItemsCompiler.java:46: arg = the FIRST duplicate
            # item's instance JsonPointer
            first_dup = F.array_min(F.filter(
                F.transform(
                    F.sequence(F.lit(2), F.greatest(F.size(canon), F.lit(2))),
                    lambda i: F.when(
                        F.array_position(
                            F.slice(canon, 1, i - 1),
                            F.try_element_at(canon, i)) > 0, i)),
                lambda x: x.isNotNull()))
            dup_ptr = F.concat(F.lit(p + "/"), (first_dup - 1).cast("string"))
            checks.append(Check(_nn(is_arr & (F.size(F.array_distinct(canon)) != F.size(col))),
                                p, "uniqueItems",
                                msg_col("UNIQUE_ITEMS", dup_ptr)))
        return checks

    def _c_unevaluated_props(self, sub, names: set, pats: list, val, path) -> list[Check]:
        col, dt, fields = val
        p = self._ptr(path)
        if fields is not None:
            field_names = list(fields.keys())
        elif isinstance(dt, T.StructType):
            field_names = [f.name for f in dt.fields]
        elif isinstance(dt, T.MapType):
            return self._map_unevaluated_props(sub, names, pats, val, path)
        else:
            return []  # non-object: keyword no-ops
        rxs = [self._pyrx(r) for r in pats]
        leftovers = [n for n in field_names
                     if n not in names and not any(r.search(n) for r in rxs)]
        checks: list[Check] = []
        for n in leftovers:
            child = self._field(val, n)
            if sub is False:
                checks.append(Check(_nn(self.v_present(val) & self.v_present(child)),
                                    p, "unevaluatedProperties",
                                    f"unevaluated property {n!r} present"))
            elif sub is not True and sub != {}:
                checks.extend(self.compile(sub, child, path + (n,)))
        return checks

    def _map_unevaluated_props(self, sub, names: set, pats: list, val, path) -> list[Check]:
        """unevaluatedProperties over a typed map column — same
        set-difference shape as the variant path, restricted to present
        (non-NULL-valued) keys."""
        col, dt, fields = val
        p = self._ptr(path)
        if not isinstance(dt.keyType, T.StringType):
            raise ExprUnsupported("unevaluatedProperties needs string map keys")
        m = col
        is_obj = self.v_present(val)
        vt = dt.valueType
        rxs = [self._jrx(rx) for rx in pats]
        names_l = sorted(names)
        present_keys = F.filter(F.map_keys(m),
                                lambda k: F.element_at(m, k).isNotNull())

        def is_uneval(k):
            cond = F.lit(True)
            if names_l:
                cond = cond & ~k.isin(names_l)
            for rx in rxs:
                cond = cond & ~_nn(k.rlike(rx))
            return cond

        extra = F.filter(present_keys, is_uneval)
        if sub is False:
            return [Check(_nn(is_obj & (F.size(extra) > 0)), p, "unevaluatedProperties",
                          "unevaluated properties present")]
        if sub is True or sub == {}:
            return []

        def sub_ok(el: Column) -> Column:
            return ok_of(self.compile(sub, (el, vt, None), path))

        all_ok = F.forall(extra, lambda k: sub_ok(F.element_at(m, k)))
        return [Check(_nn(is_obj & ~_nn(all_ok)), p, "unevaluatedProperties",
                      "an unevaluated property is invalid")]

    def _c_unevaluated_items(self, sub, covered: int, val, path) -> list[Check]:
        col, dt, fields = val
        if fields is not None or not isinstance(dt, T.ArrayType):
            return []
        p = self._ptr(path)
        et = dt.elementType
        is_arr = self.v_present(val)
        if sub is False:
            return [Check(_nn(is_arr & (F.size(col) > covered)), p, "unevaluatedItems",
                          f"unevaluated items beyond index {covered - 1}")]
        if sub is True or sub == {}:
            return []
        tail = F.slice(col, covered + 1, F.greatest(F.size(col) - covered, F.lit(0)))

        def pred(el: Column) -> Column:
            return ok_of(self.compile(sub, (el, et, None), path))

        return [Check(_nn(is_arr & ~_nn(F.forall(tail, pred))), p, "unevaluatedItems",
                      "an unevaluated item is invalid")]
