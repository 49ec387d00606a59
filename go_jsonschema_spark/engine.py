"""ConstraintSuite — compile a TableSpec and run it in one pass.

The Spark lifecycle replacing the reference's per-document loop
(SURVEY.md §3.4):

    spec ──(driver: normalize → resolve refs → compile)──► ConstraintPlan
    DataFrame scan ──► ONE select() computing every row predicate
      ──► failing rows carry their violation entries (array, un-exploded)
      ──► violations = explode(entries); verdicts = per-partition row
          counts (single-column scan) ⋈ aggregates over the SMALL
          violation set — the predicate forest is never evaluated twice
    table checks (unique / foreign_key / stats / drift) run as separate
    aggregate stages over narrow projections of the same table.

Violations are *data*, not exceptions (helpers.go:58-67 addError analogue):
one row ``(doc_id, constraint_id, observed)`` per failed constraint, and —
unlike the reference, which stops at the first error per document
(validators.go:45-50) — ALL constraints are evaluated, a deliberate
superset of the reference's verdicts (SURVEY.md §4.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from go_jsonschema_spark.compile import CompileError, compile_predicate
from go_jsonschema_spark.spec import SchemaSpec, SpecError, TableSpec

__all__ = ["ConstraintSuite", "SuiteResult", "ConstraintPlan"]

# compiled-plan cache shared across suite instances (see
# ConstraintSuite.compile); maps plan-key fingerprint -> ConstraintPlan
_PLAN_CACHE: dict[str, ConstraintPlan] = {}

# keyword groups that must compile together (draft-4 exclusive flags ride on
# their base bound, schema.go:173-178)
_BOUND_PAIRS = {
    "maximum": ("maximum", "exclusiveMaximum"),
    "minimum": ("minimum", "exclusiveMinimum"),
    "items": ("items", "additionalItems"),
    "prefixItems": ("prefixItems", "items"),  # 2020-12: items = rest schema
    "contains": ("contains", "minContains", "maxContains"),
    "properties": ("properties", "patternProperties", "additionalProperties",
                   "required"),
    # standalone-rider anchors: when the usual anchor keyword is absent the
    # rider becomes its own group (otherwise {"required": [...]} or a bare
    # numeric exclusiveMaximum would silently compile to zero predicates)
    "required": ("required",),
    "patternProperties": ("patternProperties", "additionalProperties"),
    "additionalProperties": ("additionalProperties",),
    "exclusiveMaximum": ("exclusiveMaximum",),
    "exclusiveMinimum": ("exclusiveMinimum",),
}
# foreign_key dims at or below this many distinct values fold into the
# row-predicate pass as an `isin` (one collected list, same size contract
# as broadcasting the dim); larger dims keep the broadcast anti-join
_FK_INLINE_MAX = 10_000

_ANNOTATIONS = {
    # annotations — parsed, preserved, never validated (parser.go:90-99 and
    # the reference's non-validating keywords)
    "$id", "id", "$schema", "$comment", "title", "description", "default",
    "readOnly", "writeOnly", "examples", "definitions", "$defs",
    "contentMediaType", "contentEncoding",
}
# rider keyword -> anchors that absorb it; a rider only skips compilation
# when at least one anchor is present in the same schema.  Riders whose
# semantics are *defined as ignored* without their anchor (additionalItems
# without tuple items, min/maxContains without contains, then/else without
# if) list no standalone fallback and are skipped unconditionally via
# _IGNORED_WITHOUT_ANCHOR.
_RIDER_ANCHORS = {
    "exclusiveMaximum": ("maximum",),
    "exclusiveMinimum": ("minimum",),
    "required": ("properties",),
    "patternProperties": ("properties",),
    "additionalProperties": ("properties", "patternProperties"),
}
_IGNORED_WITHOUT_ANCHOR = {
    "additionalItems": ("items",),
    "minContains": ("contains",),
    "maxContains": ("contains",),
    "then": ("if",),
    "else": ("if",),
}


@dataclass
class ConstraintPlan:
    """Compiled plan: named boolean predicates + table-check specs."""

    predicates: list[tuple[str, Column]]  # (constraint_id, pred)
    observed: dict[str, Column]  # constraint_id -> observed-value column
    table_checks: list[dict[str, Any]]
    # memo of derived Column fragments (run()'s _RunFragments bundles and
    # verdict_counts' fragment dicts): Columns are immutable unbound
    # expressions, so the ~250 py4j round trips that assemble them per
    # call are pure fixed driver cost — cached per (key, partition_col,
    # tolerances) alongside the plan.  Never holds DataFrames, data, or
    # anything input-derived (the fk-fold value list stays per-run in
    # run()).
    derived: dict[tuple, Any] = field(default_factory=dict)


@dataclass
class _RunFragments:
    """Per-(key, partition_col, tolerances) Column fragments reused across
    run() calls on the same compiled plan.  Everything here is a pure
    function of the plan's predicate/observed Columns and the suite
    config — independent of the input DataFrame and of any data."""

    pred_aliases: list[Column]  # predicates aliased to safe names
    pass_col: Column  # AND over the safe predicate columns
    row_entries: list[Column]  # per-cid when(~ok, struct(cid, observed))
    entries_nofk: Column  # filtered entries array for the no-folded-fk case
    doc_id_col: Column  # key cast to string, aliased doc_id
    part_col: Column  # partition column (or the __all__ literal)
    rowfail_col: Column  # ~__pass__ aliased __rowfail__
    nfail_agg: Column  # sum(__rowfail__) aliased n_fail
    cid_counts: list[Column]  # per-cid exists-sum aggregates
    fail_map_col: Column  # map_from_arrays(cids, counts) (or typed NULL)
    verdict_passed: Column  # tolerant gate or n_fail == 0


@dataclass
class SuiteResult:
    """Lazily-defined result DataFrames (caller picks the actions)."""

    checked: DataFrame  # input + one boolean column per constraint + __pass__
    violations: DataFrame  # (doc_id, constraint_id, observed)
    verdicts: DataFrame  # per-partition pass/fail + counts
    constraint_ids: list[str] = field(default_factory=list)
    row_violations: DataFrame | None = None  # persisted handle (unpersist me)
    fk_constraint_ids: list[str] = field(default_factory=list)  # folded fks

    def split(self, *, include_reasons: bool = False,
              quarantine_fk: bool = True) -> tuple[DataFrame, DataFrame]:
        """Quarantine split: ``(clean, quarantined)`` — the ETL routing
        action (write clean rows onward, bad rows to a review sink)
        derived from the SAME one-pass ``checked`` plan the verdicts
        came from: no second scan, no join back.

        ``quarantine_fk`` also routes rows failing a folded
        foreign-key check (they are table-check violations, so they
        never count in verdict ``n_fail`` — but a row with an unknown
        source is usually not a row to ship).  ``include_reasons``
        appends a ``__reasons__`` array of failed constraint ids to
        the quarantined side (original column set otherwise —
        internal predicate columns are dropped from both sides)."""
        row_safe = [(f"__c{i}__", cid)
                    for i, cid in enumerate(self.constraint_ids)]
        fk_safe = [(f"__fk{i}__", cid)
                   for i, cid in enumerate(self.fk_constraint_ids)]
        ok = F.col("__pass__")
        if quarantine_fk:
            for col, _cid in fk_safe:
                ok = ok & F.col(col)
        internal = ["__pass__"] + [c for c, _ in row_safe + fk_safe]
        clean = self.checked.filter(ok).drop(*internal)
        bad = self.checked.filter(~ok)
        if include_reasons:
            pairs = row_safe + (fk_safe if quarantine_fk else [])
            reasons = (
                F.filter(
                    F.array(*[
                        F.when(~F.col(col), F.lit(cid))
                        for col, cid in pairs
                    ]),
                    lambda x: x.isNotNull(),
                )
                if pairs
                else F.array().cast("array<string>")
            )
            bad = bad.withColumn("__reasons__", reasons)
        return clean, bad.drop(*internal)


def _observed_col(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.ArrayType):
        # cap BEFORE serializing — to_json of a full token array would
        # materialize kilobytes per violation row just to truncate them
        return F.substring(F.to_json(F.slice(col, 1, 32)), 1, 256)
    if isinstance(dtype, (T.MapType, T.StructType)):
        return F.substring(F.to_json(col), 1, 256)
    return F.substring(col.cast("string"), 1, 256)


def _interp_group_predicate(
    group: tuple[str, ...], full: dict, registry_raw: dict[str, Any],
    draft: int, col: Column,
) -> Column:
    """Evaluator-backed fallback for keyword groups the typed compiler
    refuses (unevaluated*, $recursiveRef/$dynamicRef need annotation
    collection / a dynamic scope no columnar expression carries).

    These keywords are non-compositional — what counts as "unevaluated"
    depends on the SIBLING applicators — so the group cannot be judged in
    isolation.  The predicate therefore attributes the failure: it fails
    exactly when the full schema fails but the schema WITHOUT this group
    passes, keeping the per-keyword violation granularity honest.  The
    typed value crosses to the Python worker as JSON inside an Arrow
    batch and is judged by the closure-compiled evaluator, compiled once
    per worker — so valid 2019+ specs still plan() instead of raising
    (ADVICE r2)."""
    import json as _json

    cell: list = []  # (full, rest) validators, compiled inside the worker

    @F.pandas_udf(T.BooleanType())
    def _judge(s: pd.Series) -> pd.Series:
        if not cell:
            from go_jsonschema_spark.interp_compile import compile_validator
            from go_jsonschema_spark.spec import SchemaSpec as _SS

            spec = _SS(full)
            for k, v in registry_raw.items():
                spec.registry.setdefault(k, _SS(v))
            rest = {k: v for k, v in full.items() if k not in group}
            cell.extend(
                compile_validator(sch, spec=spec, draft=draft,
                                  registry=spec.registry)
                for sch in (full, rest))
        v_full, v_rest = cell
        out = []
        for raw in s:
            if raw is None:
                out.append(True)  # null guard (validators.go:55-62)
                continue
            v = _json.loads(raw).get("v")
            out.append(True if v is None else (v_full(v) or not v_rest(v)))
        return pd.Series(out)

    # to_json keeps null fields so the worker can tell null from absent
    wrapped = F.to_json(F.struct(col.alias("v")),
                        {"ignoreNullFields": "false"})
    return F.when(col.isNull(), F.lit(True)).otherwise(_judge(wrapped))


class ConstraintSuite:
    """Compile once, run on any DataFrame with matching columns.

    ``register(name, spec)`` adds named specs for ``$ref`` reuse
    (AddSchema analogue, /root/reference/schema_refs.go:118-129)."""

    def __init__(self, table_spec: TableSpec, *, key: str = "doc_id",
                 non_null_elements: tuple[str, ...] = ()) -> None:
        self.spec = table_spec
        self.key = key
        # storage-contract hint: array columns whose ELEMENTS are
        # guaranteed non-null by the table's storage schema (parquet
        # footers write `element: int32 not null`, Iceberg tracks
        # `required` elements) — Spark's file reader coerces everything
        # back to nullable, so the trusted contract is re-declared here.
        # The compiler then elides per-element null scans (≈ half the
        # flagship predicate pass at 16M rows, compile.py).  Trusting a
        # wrong contract skips null detection for that column — only
        # declare it for columns the WRITER guarantees (tokenizers never
        # emit null tokens).
        self.non_null_elements = tuple(non_null_elements)
        self.registry: dict[str, Any] = {}

    def register(self, name: str, spec: Any) -> None:
        self.registry[name] = spec

    def _plan_key(self, df: DataFrame) -> str | None:
        import json

        try:
            sess = df.sparkSession
            app = sess.sparkContext.applicationId
            spec_fp = json.dumps(
                {"c": self.spec.columns, "r": self.spec.row_checks,
                 "t": self.spec.table_checks, "d": self.spec.draft},
                sort_keys=True, default=repr)
            reg_fp = json.dumps(
                {k: (v.root if isinstance(v, SchemaSpec) else v)
                 for k, v in self.registry.items()},
                sort_keys=True, default=repr)
            return "|".join([app, df.schema.json(), spec_fp, reg_fp,
                             repr(self.non_null_elements)])
        except Exception:  # pragma: no cover - exotic spec content
            return None

    def _tolerant_passed(self, ids, cnt_for, n_rows):
        """The verdict ``passed`` expression under ``spec.tolerances``
        (Great-Expectations ``mostly``): constraint ``c`` is within budget
        when pass_count(c) >= mostly_c * n_rows, evaluated as the EXACT
        integer rule ``(n_rows - fails) * den >= num * n_rows`` via
        ``Fraction(str(mostly))`` — no binary-float edge on either side
        (0.9 of 1000 is exactly 900).  Constraints without a declared
        tolerance stay strict.  Violation rows are unaffected — tolerance
        is a GATE concept, not row routing; ``split()`` still quarantines
        every failing row.

        ``cnt_for(i, cid)`` maps the ``i``-th constraint id to its
        per-partition fail count Column; ``n_rows`` is the partition row
        count Column."""
        import functools
        import operator
        from fractions import Fraction

        unknown = set(self.spec.tolerances) - set(ids)
        if unknown:
            raise KeyError(
                f"tolerances reference unknown row-constraint ids "
                f"{sorted(unknown)}; known ids: {sorted(ids)} "
                "(table checks cannot be tolerated — they are not "
                "verdict constraints)")
        terms = []
        for i, cid in enumerate(ids):
            cnt = cnt_for(i, cid)
            m = self.spec.tolerances.get(cid)
            if m is None:
                terms.append(cnt == 0)
            else:
                fr = Fraction(str(m))
                terms.append(
                    (n_rows - cnt) * F.lit(fr.denominator)
                    >= F.lit(fr.numerator) * n_rows
                )
        return (functools.reduce(operator.and_, terms)
                if terms else F.lit(True))

    # -- compile ----------------------------------------------------------
    def compile(self, df: DataFrame) -> ConstraintPlan:
        # Module-level cache (bounded), NOT per-instance: the natural
        # caller shape constructs a fresh suite per batch (the bench's
        # validate_sequences does exactly this), so an instance cache
        # never hits.  The key fingerprints the spec/registry CONTENT +
        # input schema + session (Columns are JVM-bound), so identical
        # re-compiles — pure driver-side Column building, no data —
        # are paid once per session (~0.2 s/run at 10 predicates,
        # measured r7; VERDICT r6 item 5).
        ck = self._plan_key(df)
        cached = _PLAN_CACHE.get(ck) if ck is not None else None
        if cached is not None:
            return cached
        plan = self._compile_uncached(df)
        if ck is not None:
            if len(_PLAN_CACHE) >= 128:  # bound: drop oldest entry
                _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
            _PLAN_CACHE[ck] = plan
        return plan

    def _compile_uncached(self, df: DataFrame) -> ConstraintPlan:
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        preds: list[tuple[str, Column]] = []
        observed: dict[str, Column] = {}
        draft = self.spec.draft

        for name, schema in self.spec.columns.items():
            if name not in dtypes:
                raise KeyError(f"spec column {name!r} not in DataFrame")
            col = F.col(name)
            dt = dtypes[name]
            if (name in self.non_null_elements
                    and isinstance(dt, T.ArrayType) and dt.containsNull):
                dt = T.ArrayType(dt.elementType, False)

            # {"kind": "scoped", "where": ..., "schema": ...} — the
            # row_condition analogue: every predicate this column
            # produces is gated on ``where``; out-of-scope rows pass
            # unjudged (they never VIOLATE, but as passing rows they DO
            # sit in the tolerance denominator, which is partition
            # n_rows — see TableSpec.tolerances).  NULL scope = out of
            # scope.
            def wrap(p: Column) -> Column:
                return p

            if isinstance(schema, dict) and schema.get("kind") == "scoped":
                in_scope = F.coalesce(F.expr(schema["where"]), F.lit(False))

                def wrap(p: Column, _s: Column = in_scope) -> Column:
                    return F.when(_s, p).otherwise(F.lit(True))

                schema = schema["schema"]
            if isinstance(schema, dict) and schema.get("kind") == "json":
                # dynamic JSON string column → json_column_predicate_auto
                # picks the zero-Python native path (from_json + typed
                # compiler) when the schema qualifies, else the
                # Arrow-batched interpreter UDF — the 5.8× native win now
                # applies inside the suite, not just hand-written queries
                if not isinstance(dt, T.StringType):
                    raise SpecError(
                        f"column {name!r}: kind=json needs a string "
                        f"column, got {dt.simpleString()}")
                from go_jsonschema_spark.functions.json_native import (
                    json_column_predicate_auto,
                )

                cid = f"{name}.json"
                judge = json_column_predicate_auto(
                    schema["schema"], draft=draft)
                preds.append(
                    (cid, wrap(F.coalesce(judge(col), F.lit(False)))))
                observed[cid] = F.substring(col, 1, 256)
                continue
            sspec = SchemaSpec(schema)
            sspec.registry.update(self.registry)
            registry_raw = {
                k: (v.root if isinstance(v, SchemaSpec) else v)
                for k, v in self.registry.items()
            }
            if not isinstance(schema, dict):
                cid = f"{name}.schema"
                preds.append((cid, wrap(compile_predicate(
                    schema, col, dt, draft=draft, spec=sspec))))
                observed[cid] = _observed_col(col, dt)
                continue
            # per-keyword decomposition → violation granularity matches the
            # reference's per-validator errors (setupValidators analogue)
            for kw in schema:
                if kw in _ANNOTATIONS:
                    continue
                anchors = _RIDER_ANCHORS.get(kw)
                if anchors and any(a in schema for a in anchors):
                    continue  # compiled as part of the anchor's group
                ignored = _IGNORED_WITHOUT_ANCHOR.get(kw)
                if ignored:
                    # with its anchor: rides along; without: spec-defined
                    # no-op either way
                    continue
                # draft-4 boolean exclusive flags without their bound are
                # spec-defined no-ops; numeric (draft>=6) standalone forms
                # must compile on their own
                if kw in ("exclusiveMaximum", "exclusiveMinimum") and \
                        isinstance(schema[kw], bool):
                    continue
                if kw == "items" and "prefixItems" in schema:
                    continue  # rider on prefixItems (2020-12 rest schema)
                group = _BOUND_PAIRS.get(kw, (kw,))
                sub = {k: schema[k] for k in group if k in schema}
                if kw == "if":
                    sub = {k: schema[k] for k in ("if", "then", "else")
                           if k in schema}
                # carry type info the sub-keywords may need
                cid = f"{name}.{kw}"
                try:
                    pred = compile_predicate(sub, col, dt, draft=draft,
                                             spec=sspec)
                except CompileError:
                    # typed compiler refuses this group (unevaluated*,
                    # dynamic refs) → interpreter fallback, same chooser
                    # shape as json_column_predicate_auto
                    pred = _interp_group_predicate(
                        tuple(sub), schema, registry_raw, draft, col)
                preds.append((cid, wrap(pred)))
                observed[cid] = _observed_col(col, dt)

        for rc in self.spec.row_checks:
            cid = rc["id"]
            pred = F.coalesce(F.expr(rc["expr"]), F.lit(False))
            if rc.get("where"):
                # scoped row check: out-of-scope rows pass unjudged
                pred = F.when(
                    F.coalesce(F.expr(rc["where"]), F.lit(False)), pred
                ).otherwise(F.lit(True))
            preds.append((cid, pred))
            obs = rc.get("observed")
            observed[cid] = (
                F.substring(F.expr(obs).cast("string"), 1, 256)
                if obs
                else F.lit(None).cast("string")
            )

        return ConstraintPlan(preds, observed, list(self.spec.table_checks))

    # -- dataset-level checks (GLOBAL: never evaluate these on a slice of
    # the table — uniqueness/referential over a subset miss cross-slice
    # duplicates; the checkpoint layer runs them as their own phase) -------
    def table_check_violations(
        self, df: DataFrame, *, dims: dict[str, DataFrame] | None = None,
        skip_ids: set[str] | None = None,
    ) -> DataFrame | None:
        """Violations from the table-level checks (unique / foreign_key),
        or None if the spec has none.  ``skip_ids`` names checks already
        evaluated elsewhere (run() folds small-dim foreign keys into the
        row-predicate pass)."""
        dims = dims or {}
        parts: list[DataFrame] = []
        for tc in self.spec.table_checks:
            if skip_ids and tc.get("id") in skip_ids:
                continue
            kind = tc["kind"]
            if kind == "unique":
                from go_jsonschema_spark.operators.uniqueness import (
                    uniqueness_violations,
                )

                parts.append(
                    uniqueness_violations(
                        df,
                        # composite keys pass the full list → struct key;
                        # a single-element list degrades to the plain column
                        tc["columns"] if "columns" in tc else tc["column"],
                        constraint_id=tc["id"],
                        salt_buckets=tc.get("salt_buckets"),
                        # rare-duplicates regime: shuffle 8-byte key
                        # hashes instead of the keys (see operators/
                        # uniqueness.py duplicate_keys docstring)
                        hash_compact=tc.get("hash_compact", False),
                    )
                )
            elif kind == "foreign_key":
                from go_jsonschema_spark.operators.referential import (
                    referential_violations,
                )

                if tc["dim"] not in dims:
                    raise KeyError(
                        f"foreign_key check {tc['id']!r} needs dimension "
                        f"{tc['dim']!r} passed via run(..., dims={{...}})"
                    )
                parts.append(
                    referential_violations(
                        df,
                        tc["column"],
                        dims[tc["dim"]],
                        tc.get("dim_column"),
                        key=self.key,
                        constraint_id=tc["id"],
                    )
                )
            elif kind == "functional_dependency":
                from go_jsonschema_spark.operators.consistency import (
                    fd_violations,
                )

                det = tc["determinant"]
                det_cols = [det] if isinstance(det, str) else list(det)
                v = fd_violations(df, det, tc["dependent"])
                doc_id = (
                    F.to_json(F.struct(*det_cols))
                    if len(det_cols) > 1
                    else F.col(det_cols[0]).cast("string")
                )
                parts.append(v.select(
                    doc_id.alias("doc_id"),
                    F.lit(tc["id"]).alias("constraint_id"),
                    F.col("n_values").cast("string").alias("observed"),
                ))
            elif kind == "reconcile":
                from go_jsonschema_spark.operators.consistency import (
                    reconcile_totals,
                )

                if tc["child"] not in dims:
                    raise KeyError(
                        f"reconcile check {tc['id']!r} needs child table "
                        f"{tc['child']!r} passed via run(..., dims={{...}})"
                    )
                keys = tc["key"]
                key_cols = [keys] if isinstance(keys, str) else list(keys)
                v = reconcile_totals(
                    df, dims[tc["child"]], keys,
                    tc["parent_col"], tc["child_col"],
                    atol=tc.get("atol", 1e-6),
                    how=tc.get("how", "full"),
                )
                doc_id = (
                    F.to_json(F.struct(*key_cols))
                    if len(key_cols) > 1
                    else F.col(key_cols[0]).cast("string")
                )
                parts.append(v.select(
                    doc_id.alias("doc_id"),
                    F.lit(tc["id"]).alias("constraint_id"),
                    F.coalesce(
                        F.col("diff").cast("string"),
                        F.when(F.col("parent_total").isNull(),
                               F.lit("missing_parent"))
                        .otherwise(F.lit("missing_children")),
                    ).alias("observed"),
                ))
            # stats/drift/row_count produce metrics, not violations — exposed
            # via operators.stats / operators.drift and the checkpoint layer
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def metrics(
        self,
        df: DataFrame,
        *,
        baselines: dict[str, DataFrame] | None = None,
    ) -> dict[str, Any]:
        """Execute the metric-kind table checks declared in the spec:
        ``stats`` → one-agg-pass profile DataFrame; ``drift`` → DriftReport
        vs the baseline histogram passed in ``baselines[check id]``;
        ``row_count`` → long.  Returned dict is keyed by check id (stats
        uses the id ``stats``)."""
        from go_jsonschema_spark.operators.drift import drift_check
        from go_jsonschema_spark.operators.stats import column_stats

        baselines = baselines or {}
        out: dict[str, Any] = {}
        for tc in self.spec.table_checks:
            kind = tc["kind"]
            if kind == "stats":
                out[tc.get("id", "stats")] = column_stats(
                    df, tc.get("columns"),
                    quantiles=tc.get("quantiles"),
                )
            elif kind == "drift":
                if tc["id"] not in baselines:
                    raise KeyError(
                        f"drift check {tc['id']!r} needs a baseline "
                        f"histogram via metrics(..., baselines={{...}})"
                    )
                out[tc["id"]] = drift_check(
                    df,
                    tc["column"],
                    baselines[tc["id"]],
                    bucket_width=tc["bucket_width"],
                    ks_threshold=tc.get("ks_threshold", 0.1),
                    psi_threshold=tc.get("psi_threshold", 0.2),
                )
            elif kind == "row_count":
                out[tc["id"]] = df.count()
            elif kind == "completeness":
                # per-column null ratio vs threshold, ONE agg pass over a
                # column-pruned scan: {column: {null_ratio, max, passed}}
                cols = tc.get("columns") or [tc["column"]]
                thr = tc.get("max_null_ratio", 0.0)
                row = df.agg(
                    F.count(F.lit(1)).alias("__n__"),
                    *[
                        F.count(F.when(F.col(c).isNull(), 1)).alias(f"__x{i}__")
                        for i, c in enumerate(cols)
                    ],
                ).first()
                n = row["__n__"] or 1
                out[tc["id"]] = {
                    c: {
                        "null_ratio": row[f"__x{i}__"] / n,
                        "max_null_ratio": thr,
                        "passed": row[f"__x{i}__"] / n <= thr,
                    }
                    for i, c in enumerate(cols)
                }
        return out

    def verdict_counts(
        self, df: DataFrame, *, partition_col: str | None = None,
    ) -> DataFrame:
        """Counts-only fast path: the ``run().verdicts`` numbers
        (``partition, n_rows, n_fail, fail_by_constraint, n_pass,
        passed``) from ONE map-side-combined aggregation over the
        predicate scan — ZERO violation materialization: no failing-row
        filter branch, no per-row constraint arrays, no explode, no
        persist, nothing row-scaled on the shuffle (each map task emits
        one partial row per partition key).  Equality with
        ``run().verdicts`` is pinned by test.

        This is the batch-gate shape at 10^12 rows: when the decision
        is "ship or quarantine the batch", the violation DETAIL stream
        (the dominant shuffle-write cost of the full pass — the r5→r6
        scaling-gap attribution) never needs to exist.  Run the full
        ``run()`` afterwards on only the partitions that failed."""
        import functools
        import operator

        plan = self.compile(df)
        ids = [cid for cid, _ in plan.predicates]
        # memoized Column fragments, same discipline as _run_fragments
        # (the "vc" tag keeps the key space disjoint from run()'s)
        tol_fp = tuple(sorted(
            (k, str(v)) for k, v in (self.spec.tolerances or {}).items()))
        dk = ("vc", partition_col, tol_fp)
        frag = plan.derived.get(dk)
        if frag is None:
            preds = dict(plan.predicates)
            pass_col = (
                functools.reduce(operator.and_, [preds[cid] for cid in ids])
                if ids else F.lit(True)
            )
            # a NULL predicate never survives run()'s violation filter
            # (NULL is not true there), so it counts as non-failing —
            # coalesce to True, NOT False, to mirror run().verdicts
            # exactly
            aggs = [
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((~F.coalesce(pass_col, F.lit(True)))
                      .cast("long")).alias("n_fail"),
                *[
                    F.sum((~F.coalesce(preds[cid], F.lit(True)))
                          .cast("long")).alias(f"__n{i}__")
                    for i, cid in enumerate(ids)
                ],
            ]
            passed = (
                self._tolerant_passed(
                    ids,
                    lambda i, _cid: F.col(f"__n{i}__"),
                    F.col("n_rows"),
                )
                if self.spec.tolerances
                else F.col("n_fail") == 0
            )
            fail_map = (
                # run() leaves the map NULL when no row failed (its
                # left join finds no fail_counts row) — mirror that
                F.when(
                    F.col("n_fail") > 0,
                    F.map_from_arrays(
                        F.array(*[F.lit(cid) for cid in ids]),
                        F.array(*[F.col(f"__n{i}__")
                                  for i in range(len(ids))]),
                    ),
                )
                if ids
                else F.lit(None).cast("map<string,bigint>")
            ).alias("fail_by_constraint")
            part = (F.col(partition_col) if partition_col
                    else F.lit("__all__"))
            frag = {
                "part": part, "aggs": aggs,
                "fail_map": fail_map,
                "n_pass": (F.col("n_rows") - F.col("n_fail"))
                .alias("n_pass"),
                "passed": passed.alias("passed"),
            }
            plan.derived[dk] = frag
        agged = df.groupBy(frag["part"].alias("partition")).agg(
            *frag["aggs"])
        return agged.select(
            "partition",
            "n_rows",
            "n_fail",
            frag["fail_map"],
            frag["n_pass"],
            frag["passed"],
        )

    def row_only(self) -> "ConstraintSuite":
        """A copy of this suite with the dataset-level checks stripped —
        what the checkpoint layer runs per partition batch."""
        spec = TableSpec(
            columns=self.spec.columns,
            row_checks=self.spec.row_checks,
            table_checks=[],
            draft=self.spec.draft,
            tolerances=self.spec.tolerances,
        )
        s = ConstraintSuite(spec, key=self.key)
        s.registry = self.registry
        return s

    def _run_fragments(
        self, plan: ConstraintPlan, ids: list[str], safe: dict[str, str],
        partition_col: str | None,
    ) -> _RunFragments:
        """Build (or fetch) the per-run Column fragments for this plan.

        cProfile on the r7 flagship put ~0.3-0.4 s of every run() call in
        assembling these Columns (entries array, exists-counters, verdict
        map — ~1000 py4j round trips); they are pure functions of the
        CACHED plan plus (key, partition_col, tolerances), so they are
        memoized on the plan with exactly that key.  Data-dependent
        Columns (the folded-fk isin over a collected dim) are NOT here —
        run() rebuilds those every call."""
        import functools
        import operator

        tol_fp = tuple(sorted(
            (k, str(v)) for k, v in (self.spec.tolerances or {}).items()))
        # tagged like verdict_counts' ("vc", …) key: a key column named
        # "vc" must not alias the two fragment kinds
        dk = ("run", self.key, partition_col, tol_fp)
        frag = plan.derived.get(dk)
        if frag is not None:
            return frag

        pred_aliases = [p.alias(safe[cid]) for cid, p in plan.predicates]
        pass_col = (
            functools.reduce(
                operator.and_, [F.col(safe[cid]) for cid in ids]
            )
            if ids
            else F.lit(True)
        )
        row_entries = [
            F.when(
                ~F.col(safe[cid]),
                F.struct(
                    F.lit(cid).alias("constraint_id"),
                    plan.observed[cid].alias("observed"),
                ),
            )
            for cid in ids
        ]
        entries_nofk = F.filter(
            F.array(*row_entries)
            if row_entries
            else F.array().cast(
                "array<struct<constraint_id:string,observed:string>>"
            ),
            lambda x: x.isNotNull(),
        )
        part = F.col(partition_col) if partition_col else F.lit("__all__")

        # ONE parsed expr string per constraint where the id is
        # literal-safe: pyspark's F.exists builds its lambda via ~30 py4j
        # round trips each, which cProfile put at ~0.3 s of driver time
        # per run() at 10 constraints (r7); the parsed form is the same
        # expression.
        def _cid_count(i: int, cid: str) -> Column:
            if "'" not in cid and "\\" not in cid:
                ex = F.expr(f"exists(entries, e -> e.constraint_id = '{cid}')")
            else:  # ids with quote/escape chars keep the lambda builder
                ex = F.exists(
                    "entries", lambda e: e.getField("constraint_id") == cid)
            return F.sum(ex.cast("long")).alias(f"__n{i}__")

        fail_map_col = (
            F.map_from_arrays(
                F.array(*[F.lit(cid) for cid in ids]),
                F.array(*[F.col(f"__n{i}__") for i in range(len(ids))]),
            ).alias("fail_by_constraint")
            if ids
            else F.lit(None)
            .cast("map<string,bigint>")
            .alias("fail_by_constraint")
        )
        verdict_passed = (
            # per-constraint budget gate; the NULL map (no failing rows in
            # the partition) coalesces to all-zero counts
            self._tolerant_passed(
                ids,
                lambda _i, cid: F.coalesce(
                    F.element_at("fail_by_constraint", F.lit(cid)),
                    F.lit(0),
                ),
                F.col("n_rows"),
            )
            if self.spec.tolerances
            else F.col("n_fail") == 0
        )
        frag = _RunFragments(
            pred_aliases=pred_aliases,
            pass_col=pass_col,
            row_entries=row_entries,
            entries_nofk=entries_nofk,
            doc_id_col=F.col(self.key).cast("string").alias("doc_id"),
            part_col=part,
            rowfail_col=(~F.col("__pass__")).alias("__rowfail__"),
            nfail_agg=F.sum(
                F.col("__rowfail__").cast("long")).alias("n_fail"),
            cid_counts=[_cid_count(i, cid) for i, cid in enumerate(ids)],
            fail_map_col=fail_map_col,
            verdict_passed=verdict_passed,
        )
        plan.derived[dk] = frag
        return frag

    # -- run --------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        *,
        partition_col: str | None = None,
        dims: dict[str, DataFrame] | None = None,
        persist_violations: bool = False,
    ) -> SuiteResult:
        """Build the lazy result DataFrames.  ``partition_col`` keys the
        per-partition verdicts (defaults to a constant — whole-table).

        One-pass design (SURVEY.md §3.4): the heavy predicate evaluation
        over the full table appears in exactly ONE plan — the row-violation
        extraction.  Per-partition verdicts are then derived from (a) the
        small violations set and (b) a column-pruned ``groupBy(part).count``
        that reads a single column from the scan; the predicates are never
        re-evaluated for the verdict aggregation.  With
        ``persist_violations`` the row-violation DF is persisted
        (MEMORY_AND_DISK) so violations + verdicts together still cost one
        predicate pass."""
        plan = self.compile(df)
        ids = [cid for cid, _ in plan.predicates]
        # internal alias per constraint — ids may contain '.', which Column
        # resolution would read as struct access
        safe = {cid: f"__c{i}__" for i, cid in enumerate(ids)}
        frag = self._run_fragments(plan, ids, safe, partition_col)

        import functools
        import operator

        # Fold SMALL-dimension foreign_key table checks into the one
        # predicate pass: the allowed-value set collects once on the
        # driver (bounded by _FK_INLINE_MAX, same contract as a broadcast
        # dim) and the check becomes an `isin` on a column the scan very
        # often already reads — the separate anti-join job (its own full
        # pass over the fact table) disappears.  Fact-side NULLs match
        # the anti-join semantics: no dim value equals NULL, so NULL is a
        # violation (isin yields NULL → coalesce False).  Folded checks
        # contribute VIOLATION rows identical to referential_violations
        # but stay OUT of the verdict fail counts, exactly like the
        # table-check path they replace.  Dims above the bound keep the
        # broadcast anti-join.
        fk_folded: list[tuple[str, Column, Column]] = []  # (cid, ok, obs)
        fk_folded_ids: set[str] = set()
        for tc in self.spec.table_checks:
            if tc.get("kind") != "foreign_key":
                continue
            if tc["dim"] not in (dims or {}):
                raise KeyError(
                    f"foreign_key check {tc['id']!r} needs dimension "
                    f"{tc['dim']!r} passed via run(..., dims={{...}})"
                )
            dcol = tc.get("dim_column") or tc["column"]
            vals = [
                r[0]
                for r in dims[tc["dim"]]
                .select(dcol)
                .distinct()
                .limit(_FK_INLINE_MAX + 1)
                .collect()
            ]
            if len(vals) > _FK_INLINE_MAX:
                continue  # genuinely large dim → anti-join path below
            vals = [v for v in vals if v is not None]
            ok = F.coalesce(
                F.col(tc["column"]).isin(*vals) if vals else F.lit(False),
                F.lit(False),
            )
            fk_folded.append(
                (tc["id"], ok, F.col(tc["column"]).cast("string")))
            fk_folded_ids.add(tc["id"])

        part = frag.part_col
        fk_safe = {cid: f"__fk{i}__" for i, (cid, _, _) in
                   enumerate(fk_folded)}
        checked = df.select(
            "*",
            *frag.pred_aliases,
            *[ok.alias(fk_safe[cid]) for cid, ok, _ in fk_folded],
        ).withColumn("__pass__", frag.pass_col)

        # violations: one row per FAILING source row with the array of its
        # failed constraints (kept un-exploded so row identity survives —
        # a nondeterministic row id would be re-evaluated per exploded row
        # and doc_id may legitimately repeat via duplicate rows); the
        # exploded per-constraint view and the per-partition counts all
        # derive from this one DF.  The fk entries embed this run's
        # collected dim values, so the combined array is rebuilt whenever
        # a folded fk is present; without one the cached fragment is the
        # identical expression.
        if fk_folded:
            entries = frag.row_entries + [
                F.when(
                    ~F.col(fk_safe[cid]),
                    F.struct(
                        F.lit(cid).alias("constraint_id"),
                        obs.alias("observed"),
                    ),
                )
                for cid, _ok, obs in fk_folded
            ]
            entries_col = F.filter(
                F.array(*entries), lambda x: x.isNotNull())
        else:
            entries_col = frag.entries_nofk
        # rows are emitted when ANY row constraint OR folded fk fails;
        # __rowfail__ preserves the verdict semantics (fk failures are
        # table-check violations, never verdict fail counts)
        emit = functools.reduce(
            operator.or_,
            [~F.col("__pass__")]
            + [~F.col(fk_safe[cid]) for cid, _, _ in fk_folded],
        )
        failed_rows = checked.filter(emit).select(
            frag.doc_id_col,
            part.alias("__part__"),
            frag.rowfail_col,
            entries_col.alias("entries"),
        )
        if persist_violations:
            from pyspark import StorageLevel

            failed_rows = failed_rows.persist(StorageLevel.MEMORY_AND_DISK)
        row_viol = failed_rows.select(
            "doc_id", F.explode("entries").alias("v")
        ).select("doc_id", "v.constraint_id", "v.observed")

        # table checks → more violations + metrics (folded fk checks
        # already produced their violations in the predicate pass)
        viol_parts = [row_viol]
        tv = self.table_check_violations(
            df, dims=dims, skip_ids=fk_folded_ids)
        if tv is not None:
            viol_parts.append(tv)

        violations = viol_parts[0]
        for v in viol_parts[1:]:
            violations = violations.unionByName(v)

        # verdicts WITHOUT re-running predicates: row counts come from a
        # single-column scan; fail counts and the per-constraint breakdown
        # come from the (small) violations set
        row_counts = df.groupBy(part.alias("partition")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        # ONE aggregation over failed_rows yields both the row fail count
        # and the per-constraint breakdown (one sum(exists(...)) per
        # constraint — the plan prunes to nothing extra, and the predicate
        # pass is not re-run a second time for the map).  The aggregate
        # and verdict-map Columns come from the cached fragments.
        fail_counts = failed_rows.groupBy(
            F.col("__part__").alias("partition")
        ).agg(
            # only ROW-constraint failures count toward verdicts — a row
            # emitted purely for a folded fk violation has __rowfail__
            # False and contributes nothing here
            frag.nfail_agg,
            *frag.cid_counts,
        ).select("partition", "n_fail", frag.fail_map_col)
        verdicts = (
            row_counts.join(fail_counts, "partition", "left")
            .withColumn("n_fail", F.coalesce(F.col("n_fail"), F.lit(0)))
            .withColumn("n_pass", F.col("n_rows") - F.col("n_fail"))
            .withColumn("passed", frag.verdict_passed)
        )

        return SuiteResult(
            checked, violations, verdicts, ids,
            row_violations=failed_rows if persist_violations else None,
            fk_constraint_ids=[cid for cid, _, _ in fk_folded],
        )
