"""The evaluator for dynamic JSON values: schemas compiled into closures.

Every schema object is compiled ONCE into a node: an ordered list of
``(keyword, check)`` closures, the analogue of the reference's
``setupValidators`` plan step (parser.go:313-407).  Running a node runs its
checks.  All consumers share these nodes: the boolean
:func:`compile_validator` (the pandas-UDF hot path), the errors of
``interp.validate_instance`` and ``compile.json_column_errors``
(:func:`collect_errors`), and the meta-schema self-check.

A check is ``check(value, cx) -> bool``.  On the boolean path ``cx`` is
None, so a value costs one call per present keyword and nothing more.  The
slow paths pass a :class:`_Cx` instead: its ``out`` list collects
``path: keyword: message`` errors and its ``seen`` set collects the child
keys/indexes the node evaluated — the annotations
``unevaluatedProperties``/``unevaluatedItems`` read.

Draft rules:

* ``$ref`` replaces its siblings up to draft 7 (parser.go:323-326) and
  applies in place beside them from 2019-09 on;
* ``$recursiveRef`` and ``$dynamicRef`` (2019+) resolve through a
  dynamic-scope stack of the schema resources entered so far;
* annotation collection is compiled in only where an unevaluated* keyword
  can see it: the node carrying the keyword and, transitively, its
  in-place subschemas (allOf/anyOf/oneOf/if/then/else, dependent schemas
  and refs).  Other schemas compile to exactly the boolean chain;
* one depth counter per compiled validator bounds runtime ref recursion
  (the circularThreshold analogue, schema.go:24-26): a cycle that never
  shrinks the value fails instead of overflowing the worker's stack.

Value semantics (type detection, exact-rational comparison, deep equality,
formats, ECMA regex) are interp.py's primitives.
"""

from __future__ import annotations

from typing import Any, Callable

from go_jsonschema_spark.interp import (
    _FORMAT_CHECKS,
    _as_fraction,
    _meta_specs,
    canonical_key,
    compile_ecma_regex,
    deep_equal,
    json_type,
)
from go_jsonschema_spark.spec import SchemaSpec, SpecError

__all__ = ["compile_validator", "collect_errors"]

Validator = Callable[..., bool]  # node(value, cx=None) -> bool
Check = Callable[[Any, "_Cx | None"], bool]

_NUM = (int, float)


def compile_validator(
    schema: Any,
    *,
    spec: SchemaSpec | None = None,
    draft: int = 7,
    registry: dict[str, Any] | None = None,
    assert_formats: bool = True,
) -> Validator:
    """Compile ``schema`` into its root node, a ``value -> bool``
    callable; :func:`collect_errors` runs the same node for errors."""
    if spec is None:
        spec = SchemaSpec(schema if isinstance(schema, (dict, bool)) else {})
    return _Compiler(draft, registry or {}, assert_formats).node(schema, spec)


def collect_errors(validator: Validator, value: Any) -> list[str]:
    """Every ``path: keyword: message`` error of ``value`` under a node
    from :func:`compile_validator`; empty exactly when it is valid."""
    out: list[str] = []
    validator(value, _Cx("$", out))
    return out


class _Cx:
    """Slow-path context at one instance location.  ``out`` collects
    errors (None: verdict only); ``seen`` collects evaluated child
    keys/indexes (None: no unevaluated* keyword in scope)."""

    __slots__ = ("path", "out", "seen")

    def __init__(self, path: str, out: list[str] | None,
                 seen: set | None = None) -> None:
        self.path, self.out, self.seen = path, out, seen

    def at(self, seg: str | int) -> "_Cx | None":
        """Context of a child location: errors follow, annotations do not
        (they belong to the location they were made at)."""
        if self.out is None:
            return None
        if isinstance(seg, int):
            return _Cx(f"{self.path}[{seg}]", self.out)
        return _Cx(f"{self.path}.{seg}", self.out)


def _stop(cx: _Cx | None) -> bool:
    """After a failed check: stop unless errors are being collected."""
    return cx is None or cx.out is None


def _branch(cx: _Cx | None, ann: bool) -> _Cx | None:
    """Context of a subschema whose failure is no error (anyOf/oneOf
    branches, the ``if`` condition): annotations only."""
    return _Cx(cx.path, None, set()) if ann else None


def _accept(v: Any, cx: _Cx | None = None) -> bool:
    return True


def _reject(v: Any, cx: _Cx | None = None) -> bool:
    if cx is not None and cx.out is not None:
        cx.out.append(f"{cx.path}: false-schema: schema rejects everything")
    return False


def _recursive_anchor(node: Any) -> bool:
    return isinstance(node, dict) and node.get("$recursiveAnchor") is True


def _owning_spec(
    spec: SchemaSpec, node: Any, registry: dict[str, Any]
) -> SchemaSpec:
    """The SchemaSpec whose tree contains ``node``: after a jump into an
    embedded meta-schema or a registered remote document, pointer refs
    resolve inside THAT document's base context."""
    if node is spec.root or id(node) in spec.base_of:
        return spec
    for ms in _meta_specs():
        if id(node) in ms.base_of:
            return ms
    for v in registry.values():
        if isinstance(v, SchemaSpec) and (
            node is v.root or id(node) in v.base_of
        ):
            return v
    return spec


_FIXED_MESSAGES = {
    "anyOf": "no subschema matched",
    "oneOf": "not exactly one subschema matched",
    "not": "subschema matched",
    "contains": "matching element count out of range",
    "content": "content assertion failed",
}


_ASSERTIONS = frozenset({
    "enum", "const", "multipleOf", "maximum", "exclusiveMaximum", "minimum",
    "exclusiveMinimum", "maxLength", "minLength", "pattern", "format",
    "maxItems", "minItems", "uniqueItems", "maxProperties", "minProperties",
    "required", "dependencies", "dependentRequired",
})


def _short(x: Any) -> str:
    r = repr(x)
    return r if len(r) <= 60 else r[:57] + "..."


def _message(kw: str, schema: dict, v: Any, draft: int) -> str:
    """The ``message`` of a failed keyword's ``path: keyword: message``."""
    if kw == "type":
        return f"got {json_type(v, draft)}, want {schema['type']}"
    if kw in _FIXED_MESSAGES:
        return _FIXED_MESSAGES[kw]
    if kw in _ASSERTIONS:
        return f"{_short(v)} violates {kw} {_short(schema[kw])}"
    return "subschema failed"  # an applicator: its subschema's errors say why


def _leaf_checks(schema: dict, draft: int, fmt: bool):
    """``(keyword, check)`` for every assertion that applies no
    subschema.  Each check accepts values of the types it ignores."""
    t = schema.get("type")
    if t is not None:
        types = tuple(t) if isinstance(t, list) else (t,)

        def type_v(v, cx):
            jt = json_type(v, draft)
            return jt in types or (jt == "integer" and "number" in types)

        yield "type", type_v

    if "enum" in schema:
        keys = set()
        unkeyable = []
        for e in schema["enum"]:
            try:
                keys.add(canonical_key(e))
            except TypeError:
                unkeyable.append(e)

        def enum_v(v, cx):
            try:
                if canonical_key(v) in keys:
                    return True
            except TypeError:
                pass
            return any(deep_equal(v, e) for e in unkeyable)

        yield "enum", enum_v

    if "const" in schema:
        yield "const", lambda v, cx, c=schema["const"]: deep_equal(v, c)

    # numeric keywords — precompute Fractions once
    if "multipleOf" in schema:
        m = _as_fraction(schema["multipleOf"])
        yield "multipleOf", (
            lambda v, cx: not isinstance(v, _NUM) or isinstance(v, bool)
            or (_as_fraction(v) / m).denominator == 1
        )
    for kw, exclkw, upper in (
        ("maximum", "exclusiveMaximum", True),
        ("minimum", "exclusiveMinimum", False),
    ):
        if kw in schema:
            bound = _as_fraction(schema[kw])
            excl = schema.get(exclkw) is True  # draft-4 boolean rider

            def bound_v(v, cx, bound=bound, excl=excl, upper=upper):
                if not isinstance(v, _NUM) or isinstance(v, bool):
                    return True
                fv = _as_fraction(v)
                if fv == bound:
                    return not excl
                return (fv < bound) if upper else (fv > bound)

            yield kw, bound_v
        if exclkw in schema and not isinstance(schema[exclkw], bool):
            ebound = _as_fraction(schema[exclkw])

            def ebound_v(v, cx, ebound=ebound, upper=upper):
                if not isinstance(v, _NUM) or isinstance(v, bool):
                    return True
                fv = _as_fraction(v)
                return (fv < ebound) if upper else (fv > ebound)

            yield exclkw, ebound_v

    # string keywords (rune-count lengths, validators.go:562-582)
    if "maxLength" in schema:
        yield "maxLength", (lambda v, cx, n=schema["maxLength"]:
                            not isinstance(v, str) or len(v) <= n)
    if "minLength" in schema:
        yield "minLength", (lambda v, cx, n=schema["minLength"]:
                            not isinstance(v, str) or len(v) >= n)
    if "pattern" in schema:
        rx = compile_ecma_regex(schema["pattern"])
        if rx is not None:
            yield "pattern", (
                lambda v, cx: not isinstance(v, str) or bool(rx.search(v))
            )
    if fmt and "format" in schema:
        check = _FORMAT_CHECKS.get(schema["format"])
        if check is not None:
            yield "format", (
                lambda v, cx: not isinstance(v, str) or bool(check(v))
            )
    if fmt and ("contentEncoding" in schema or "contentMediaType" in schema):
        enc = schema.get("contentEncoding")
        media = schema.get("contentMediaType")

        def content_v(v, cx):
            if not isinstance(v, str):
                return True
            decoded: Any = v
            if enc == "base64":
                import base64
                import binascii

                try:
                    decoded = base64.b64decode(v, validate=True)
                except (binascii.Error, ValueError):
                    return False
            if media == "application/json":
                import json as _json

                try:
                    _json.loads(decoded)
                except (ValueError, TypeError, UnicodeDecodeError):
                    return False
            return True

        yield "content", content_v

    # array keywords
    if "maxItems" in schema:
        yield "maxItems", (lambda v, cx, n=schema["maxItems"]:
                           not isinstance(v, list) or len(v) <= n)
    if "minItems" in schema:
        yield "minItems", (lambda v, cx, n=schema["minItems"]:
                           not isinstance(v, list) or len(v) >= n)
    if schema.get("uniqueItems") is True:

        def uniq_v(v, cx):
            if not isinstance(v, list):
                return True
            seen = set()
            for el in v:
                k = canonical_key(el)
                if k in seen:
                    return False
                seen.add(k)
            return True

        yield "uniqueItems", uniq_v

    # object keywords
    if "maxProperties" in schema:
        yield "maxProperties", (lambda v, cx, n=schema["maxProperties"]:
                                not isinstance(v, dict) or len(v) <= n)
    if "minProperties" in schema:
        yield "minProperties", (lambda v, cx, n=schema["minProperties"]:
                                not isinstance(v, dict) or len(v) >= n)
    if "required" in schema:
        req = tuple(schema["required"])
        yield "required", (
            lambda v, cx: not isinstance(v, dict) or all(k in v for k in req)
        )
    for kw in ("dependencies", "dependentRequired"):
        pairs = [(k, tuple(d)) for k, d in (schema.get(kw) or {}).items()
                 if isinstance(d, list)]
        if pairs:
            yield kw, (
                lambda v, cx, pairs=pairs: not isinstance(v, dict)
                or all(n in v for k, need in pairs if k in v for n in need)
            )


class _Compiler:
    """Compile state shared by every closure of one validator: the node
    memo, the runtime ref-depth counter and the dynamic-scope stack."""

    def __init__(self, draft: int, registry: dict[str, Any],
                 fmt: bool) -> None:
        self.draft, self.registry, self.fmt = draft, registry, fmt
        self.memo: dict[tuple[int, bool], Validator] = {}
        self.depth = [0]
        # (resource, has $recursiveAnchor: true, its $dynamicAnchors)
        self.dyn: list[tuple[Any, bool, dict[str, Any]]] = []

    def enter(self, run: Validator, spec: SchemaSpec, base: Any) -> Validator:
        """Wrap ``run`` so that evaluating it from a different schema
        resource pushes ``base`` onto the dynamic scope (2019+)."""
        if self.draft < 2019 or base is None:
            return run
        entry = (base, _recursive_anchor(base),
                 spec.dyn_anchors.get(id(base), {}))
        dyn = self.dyn

        def entered(v: Any, cx: _Cx | None = None) -> bool:
            if dyn and dyn[-1][0] is base:
                return run(v, cx)
            dyn.append(entry)
            try:
                return run(v, cx)
            finally:
                dyn.pop()

        return entered

    def jump(self, spec: SchemaSpec, ann: bool,
             resolve: Callable[[], Any], static: bool) -> Check:
        """A check applying the schema ``resolve()`` names to the value in
        place.  Resolution is lazy (an unresolvable ref fails only when
        reached) and, for ``static`` refs, happens once."""
        depth, compiled, cell = self.depth, {}, []

        def target() -> Validator:
            t = resolve()
            f = compiled.get(id(t))
            if f is None:
                owner = _owning_spec(spec, t, self.registry)
                f = self.node(t, owner, ann)
                base = owner.base_of.get(id(t), (None,))[0]
                if base is not t:  # resource roots enter by themselves
                    f = self.enter(f, owner, base)
                compiled[id(t)] = f
            return f

        def jump_v(v: Any, cx: _Cx | None) -> bool:
            if cell:
                f = cell[0]
            else:
                f = target()
                if static:
                    cell.append(f)
            if depth[0] > 100:
                return False
            depth[0] += 1
            try:
                return f(v, cx)
            finally:
                depth[0] -= 1

        return jump_v

    def node(self, schema: Any, spec: SchemaSpec,
             ann: bool = False) -> Validator:
        """The node of ``schema``.  ``ann``: an enclosing unevaluated*
        keyword reads this node's annotations (the caller then always
        passes a context whose ``seen`` is a set)."""
        if schema is True:
            return _accept
        if schema is False:
            return _reject
        if not isinstance(schema, dict):
            raise SpecError(f"invalid schema node: {schema!r}")
        key = (id(schema), ann)
        if key in self.memo:
            return self.memo[key]

        draft = self.draft
        checks: list[tuple[str, Check]] = []
        fns: list[Check] = []

        def run(v: Any, cx: _Cx | None = None) -> bool:
            if cx is None:
                for f in fns:
                    if not f(v, None):
                        return False
                return True
            ok = True
            for kw, f in checks:
                if not f(v, cx):
                    if cx.out is None:
                        return False
                    ok = False
                    cx.out.append(
                        f"{cx.path}: {kw}: {_message(kw, schema, v, draft)}")
            return ok

        uneval = draft >= 2019 and (
            "unevaluatedProperties" in schema or "unevaluatedItems" in schema)
        if uneval:
            body = run

            def run(v: Any, cx: _Cx | None = None) -> bool:
                # a fresh annotation scope: only what THIS node evaluates
                # counts for its unevaluated* keywords
                own = (_Cx(cx.path, cx.out, set()) if cx is not None
                       else _Cx("$", None, set()))
                ok = body(v, own)
                if ok and ann:
                    cx.seen |= own.seen
                return ok

        base = spec.base_of.get(id(schema), (None,))[0]
        if base is schema:
            run = self.enter(run, spec, base)
        # register BEFORE compiling children → bounded recursion on
        # circular refs
        self.memo[key] = run
        self._fill(schema, spec, ann or uneval, checks)
        fns.extend(f for _, f in checks)
        return run

    def _fill(self, schema: dict, spec: SchemaSpec, ann: bool,
              checks: list[tuple[str, Check]]) -> None:
        """Append ``schema``'s checks: refs first, assertions, applicators,
        unevaluated* last (they read everything the others evaluated)."""
        draft, reg, dyn = self.draft, self.registry, self.dyn

        def sub(s: Any) -> Validator:  # subschema at a child location
            return self.node(s, spec)

        def inplace(s: Any) -> Validator:  # subschema at this location
            return self.node(s, spec, ann)

        ref = schema.get("$ref")
        if isinstance(ref, str):
            def ref_target() -> Any:
                owner = _owning_spec(spec, schema, reg)
                return owner.resolve_ref(ref, at=schema, extra=reg)

            checks.append(("$ref", self.jump(spec, ann, ref_target, True)))
            if draft < 2019:
                return

        if draft >= 2019 and isinstance(schema.get("$recursiveRef"), str):
            cur = spec.base_of.get(id(schema), (spec.root,))[0]

            def recursive_target() -> Any:
                # '#' is the current resource — or, when it carries
                # $recursiveAnchor: true, the OUTERMOST dynamically
                # entered resource that carries it too
                if _recursive_anchor(cur):
                    for res, anchored, _ in dyn:
                        if anchored:
                            return res
                return cur

            checks.append(("$recursiveRef",
                           self.jump(spec, ann, recursive_target, False)))

        dref = schema.get("$dynamicRef")
        if draft >= 2019 and isinstance(dref, str):
            name = dref.split("#", 1)[1] if "#" in dref else ""
            static: list[Any] = []

            def dynamic_target() -> Any:
                # resolve statically; a landing on the matching
                # $dynamicAnchor hops to the OUTERMOST resource in the
                # dynamic scope defining that anchor
                if not static:
                    owner = _owning_spec(spec, schema, reg)
                    static.append(
                        owner.resolve_ref(dref, at=schema, extra=reg))
                t = static[0]
                if (name and isinstance(t, dict)
                        and t.get("$dynamicAnchor") == name):
                    for _, _, anchors in dyn:
                        if name in anchors:
                            return anchors[name]
                return t

            checks.append(("$dynamicRef",
                           self.jump(spec, ann, dynamic_target, False)))

        checks.extend(_leaf_checks(schema, draft, self.fmt))

        # array applicators: a tuple part (prefixItems, or array-form
        # items) and a rest schema for the elements after it, in one pass
        prefix = schema.get("prefixItems")
        items = schema.get("items")
        if prefix is not None:
            tup, tup_kw, rest, rest_kw = prefix, "prefixItems", items, "items"
        elif isinstance(items, list):
            tup, tup_kw = items, "items"
            rest, rest_kw = schema.get("additionalItems"), "additionalItems"
        else:
            tup, tup_kw, rest, rest_kw = [], "", items, "items"
        tvs = [sub(s) for s in tup]
        rv = None if rest is None else sub(rest)
        if tvs or rv is not None:
            n_tup = len(tvs)

            def items_v(v, cx):
                if not isinstance(v, list):
                    return True
                ok = True
                for i, el in enumerate(v):
                    f = tvs[i] if i < n_tup else rv
                    if f is None:
                        break
                    if not f(el, cx and cx.at(i)):
                        if _stop(cx):
                            return False
                        ok = False
                if ann:
                    cx.seen.update(range(
                        len(v) if rv is not None else min(n_tup, len(v))))
                return ok

            checks.append(("/".join(k for k, used in (
                (tup_kw, tvs), (rest_kw, rv is not None)) if used), items_v))
        if "contains" in schema:
            cv = sub(schema["contains"])
            min_c = schema.get("minContains", 1)
            max_c = schema.get("maxContains")

            def contains_v(v, cx):
                if not isinstance(v, list):
                    return True
                hits = [i for i, el in enumerate(v) if cv(el, None)]
                if ann:
                    cx.seen.update(hits)
                n = len(hits)
                return min_c <= n and (max_c is None or n <= max_c)

            checks.append(("contains", contains_v))

        # object applicators: properties, patternProperties and
        # additionalProperties share one pass over the members
        props = {k: sub(s)
                 for k, s in (schema.get("properties") or {}).items()}
        pprops = [
            (rx, sub(s))
            for rx, s in (
                (compile_ecma_regex(p), s)
                for p, s in (schema.get("patternProperties") or {}).items()
            )
            if rx is not None
        ]
        add = schema.get("additionalProperties")
        addv = None if add is None else sub(add)
        if props or pprops or addv is not None:

            def props_v(v, cx):
                if not isinstance(v, dict):
                    return True
                ok = True
                for k, val in v.items():
                    kcx = cx and cx.at(k)
                    f = props.get(k)
                    hit = f is not None
                    if hit and not f(val, kcx):
                        if _stop(cx):
                            return False
                        ok = False
                    for rx, pf in pprops:
                        if rx.search(k):
                            hit = True
                            if not pf(val, kcx):
                                if _stop(cx):
                                    return False
                                ok = False
                    if not hit and addv is not None:
                        hit = True
                        if not addv(val, kcx):
                            if _stop(cx):
                                return False
                            ok = False
                    if ann and hit:
                        cx.seen.add(k)
                return ok

            checks.append(("/".join(
                kw for kw in ("properties", "patternProperties",
                              "additionalProperties") if kw in schema),
                props_v))
        if "propertyNames" in schema:
            pnv = sub(schema["propertyNames"])

            def names_v(v, cx):
                if not isinstance(v, dict):
                    return True
                ok = True
                for k in v:
                    if not pnv(k, cx and cx.at(k)):
                        if _stop(cx):
                            return False
                        ok = False
                return ok

            checks.append(("propertyNames", names_v))

        # in-place applicators: their annotations are this node's
        for kw in ("dependencies", "dependentSchemas"):
            deps = [
                lambda v, cx, k=k, f=inplace(d):
                    not isinstance(v, dict) or k not in v or f(v, cx)
                for k, d in (schema.get(kw) or {}).items()
                if not isinstance(d, list)
            ]
            if deps:
                checks.append((kw, _every(deps)))
        if "allOf" in schema:
            avs = [inplace(s) for s in schema["allOf"]]
            checks.append(("allOf", _every(avs)))
        if "anyOf" in schema:
            svs = [inplace(s) for s in schema["anyOf"]]
            checks.append(("anyOf", (
                (lambda v, cx: _passing(svs, v, cx) > 0) if ann
                else (lambda v, cx: any(f(v, None) for f in svs))
            )))
        if "oneOf" in schema:
            ovs = [inplace(s) for s in schema["oneOf"]]
            checks.append(("oneOf", lambda v, cx: _passing(
                ovs, v, cx if ann else None) == 1))
        if "not" in schema:
            nv = sub(schema["not"])  # annotations of `not` never count
            checks.append(("not", lambda v, cx: not nv(v, None)))
        if "if" in schema:
            iv = inplace(schema["if"])
            tv = inplace(schema["then"]) if "then" in schema else _accept
            ev = inplace(schema["else"]) if "else" in schema else _accept

            def if_v(v, cx):
                b = _branch(cx, ann)
                if iv(v, b):
                    if ann:
                        cx.seen |= b.seen
                    return tv(v, cx)
                return ev(v, cx)

            checks.append(("if", if_v))

        # unevaluated* — LAST, over everything evaluated above
        if draft >= 2019:
            for kw, typ in (("unevaluatedProperties", dict),
                            ("unevaluatedItems", list)):
                if kw in schema:
                    checks.append((kw, _unevaluated(sub(schema[kw]), typ)))


def _every(fs: list[Check]) -> Check:
    """All of ``fs`` hold, at the same instance location."""

    def every_v(v, cx):
        ok = True
        for f in fs:
            if not f(v, cx):
                if _stop(cx):
                    return False
                ok = False
        return ok

    return every_v


def _passing(subs: list[Validator], v: Any, cx: _Cx | None) -> int:
    """How many in-place ``subs`` accept ``v``; when annotations are in
    scope (``cx``), every passing one contributes its own."""
    n = 0
    for f in subs:
        if cx is None:
            n += f(v, None)
            continue
        b = _branch(cx, True)
        if f(v, b):
            n += 1
            cx.seen |= b.seen
    return n


def _unevaluated(uv: Validator, typ: type) -> Check:
    """unevaluatedProperties (``typ`` dict) / unevaluatedItems (list):
    ``uv`` judges every member the node has not evaluated; afterwards all
    members count as evaluated."""

    def uneval_v(v, cx):
        if not isinstance(v, typ):
            return True
        seen = cx.seen
        ok = True
        for k, val in (v.items() if typ is dict else enumerate(v)):
            if k not in seen and not uv(val, cx.at(k)):
                if cx.out is None:
                    return False
                ok = False
        seen.update(v.keys() if typ is dict else range(len(v)))
        return ok

    return uneval_v
