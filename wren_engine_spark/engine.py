"""SemanticEngine: MDL manifest -> governed Spark temp views -> SQL.

This is the Spark-first rebuild of the reference's planning pipeline
(SURVEY.md §0, §2.A). Where the reference expands models inside a
DataFusion LogicalPlan and unparses back to backend SQL
(wren-core/core/src/mdl/mod.rs:477-541), we build each model as a
DataFrame and register it as a temp view; the user's SQL then runs
directly through Catalyst — predicate pushdown, column pruning, join
planning, AQE all apply to the *expanded* plan for free (the reference
had to disable most optimizer rules for unparse fidelity,
context.rs:229-275; we keep them all).

Per-model expansion semantics (parity targets):
  - expression columns     -> ``F.expr(expression).alias(name)``
    (ModelSourceNode, analyze/plan.rs:891-1035)
  - ref_sql models         -> ``spark.sql(ref_sql)`` as the source
    (SqlReferencePlanNode, plan.rs:1208-1272)
  - to-one calculated      -> left join along the relationship chain,
    inline expression (plan.rs:189-291, relation_chain.rs:35-299)
  - to-many calculated     -> pre-aggregate the related side by its join
    key, then 1:1 left join back on the primary key so base cardinality
    never changes (plan.rs:1038-1143; invariant model.slt:37-44)
  - RLS                    -> validated/substituted filter inside the view
    (access_control.rs:121-288, model_generation.rs:88-129)
  - CLAC / hidden columns  -> excluded from the view projection
    (access_control.rs:290-399, context.rs:336-367)
  - views                  -> ``spark.sql(statement)`` registered after
    models (expand_view.rs:35-69)

Scale notes (100 TB design): every to-one dimension join is eligible for
broadcast (dims are small by construction); to-many pre-aggregation is a
map-side-combinable groupBy on the foreign key — the shuffle it needs is
on the same key as the subsequent join, so Catalyst reuses the exchange.
Nothing in the deploy path touches data: views are lazy metadata; the
first action triggers distributed execution only.
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wren_engine_spark.mdl.lineage import (
    LineageError,
    RelPath,
    check_cycles,
    extract_paths,
    is_aggregate_expression,
)
from wren_engine_spark.mdl.manifest import (
    Column,
    ColumnLevelAccessControl,
    Manifest,
    Model,
    Relationship,
    RowLevelAccessControl,
    quote_ident,
)
from wren_engine_spark.plans.sqltext import identifiers, rewrite_outside_literals
from wren_engine_spark.sources.registry import SourceRegistry


class AccessControlError(PermissionError):
    pass


class PlanError(ValueError):
    pass


_IDENT = r'(?:"[^"]+"|[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)'
_EQ_COND = re.compile(rf"^\s*({_IDENT})\s*\.\s*({_IDENT})\s*=\s*({_IDENT})\s*\.\s*({_IDENT})\s*$")
_VAR = re.compile(r"@([A-Za-z_][A-Za-z0-9_]*)")
_NUMERIC = re.compile(r"^-?\d+(\.\d+)?$")
_FORBIDDEN_RLS = re.compile(r"\b(select|insert|update|delete|union)\b|;", re.IGNORECASE)


def _register_temp_view(spark: SparkSession, df: DataFrame, name: str) -> None:
    """Register a temp view accepting ANY model/view name the reference
    accepts (it is case-sensitive and quote-aware — context.rs:60-63;
    unicode/spaced names exercised by mod.rs:823,1851,3448). Spark's
    ``createOrReplaceTempView`` validates the name as a bare identifier,
    so non-identifier names go through a mangled physical view plus a
    backtick-quoted SQL alias view."""
    try:
        df.createOrReplaceTempView(name)
    except Exception:  # noqa: BLE001 - non-identifier name
        import hashlib

        safe = "__wren_src_" + hashlib.md5(name.encode()).hexdigest()[:12]
        df.createOrReplaceTempView(safe)
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {quote_ident(name)} "
            f"AS SELECT * FROM {safe}"
        )


_COUNT_STAR = re.compile(r"\bcount\s*\(\s*\*\s*\)", re.IGNORECASE)


def _has_star_projection(spans: list[tuple[str, str]]) -> bool:
    """True when the query may project a model's full schema (``*`` or
    ``tbl.*``) — calculated-field pruning must then keep every field.
    ``COUNT(*)`` is NOT a star projection (it reads no columns), so it
    is excluded before the check; remaining ``*`` tokens (including
    multiplication, which is indistinguishable without a parse) keep
    the conservative answer. Takes pre-lexed spans (one lex serves this
    and the identifier scan); literal/comment content is ignored."""
    from wren_engine_spark.plans.sqltext import CODE

    for seg, kind in spans:
        if kind == CODE and "*" in _COUNT_STAR.sub("", seg):
            return True
    return False


def _convert_java_exception(e: Exception) -> Exception:
    """Map a raw py4j Java exception to the standard PySpark exception
    type (AnalysisException etc.), so the direct JVM ``sql`` call in
    ``SemanticEngine.sql`` surfaces the same errors as ``spark.sql``."""
    try:
        from py4j.protocol import Py4JJavaError
        from pyspark.errors.exceptions.captured import convert_exception
    except ImportError:  # pragma: no cover
        return e
    if isinstance(e, Py4JJavaError):
        try:
            return convert_exception(e.java_exception)
        except Exception:  # noqa: BLE001 - fall back to the raw error
            return e
    return e


# expressions whose value depends on wall-clock time or randomness: a
# cached analyzed plan would freeze them (ComputeCurrentTime /
# ReplaceCurrentLike bake literals into the memoized optimizedPlan) and
# a cached result would repeat one draw, so queries referencing any of
# these bypass the plan cache and the serving layer's result cache
_UNCACHEABLE_FNS = frozenset(
    {
        "current_date", "current_timestamp", "current_time", "now",
        "localtimestamp", "current_timezone", "unix_timestamp", "today",
        "curdate",  # alias of current_date
        "rand", "randn", "random", "uuid", "shuffle",
        "randstr", "uniform",  # Spark 4.x random generators
        "monotonically_increasing_id", "unix_millis", "unix_seconds",
    }
)


def is_deterministic(idents: set[str]) -> bool:
    """True when a query's identifier tokens name no time- or
    randomness-dependent function — the one rule every cache of query
    plans or results applies before storing."""
    return _UNCACHEABLE_FNS.isdisjoint(idents)


_TZ_OFFSET = re.compile(r"^[+-]\d{2}:\d{2}$")


def _validate_timezone(tz: str) -> None:
    """Accept IANA zone names (zoneinfo) and fixed ``+HH:MM`` offsets —
    the forms the reference's ``x-wren-timezone`` header takes. Rejecting
    junk here keeps a bad header from poisoning the shared session conf."""
    if _TZ_OFFSET.match(tz) or tz.upper() == "UTC":
        return
    import zoneinfo

    try:
        zoneinfo.ZoneInfo(tz)
    except Exception as e:  # noqa: BLE001
        raise PlanError(f"invalid timezone {tz!r}") from e


def _unq(s: str) -> str:
    if s and s[0] in '"`':
        return s[1:-1]
    return s


def _parse_equi_condition(rel: Relationship) -> tuple[str, str, str, str]:
    """Parse ``"A"."x" = "B"."y"`` -> (model_a, col_a, model_b, col_b).

    The reference requires equality conditions on relationships
    (manifest-macro join condition; ExtractEquijoinPredicate kept at
    context.rs:243)."""
    m = _EQ_COND.match(rel.condition)
    if not m:
        raise PlanError(
            f"relationship {rel.name}: only equi-conditions of the form "
            f"model.col = model.col are supported, got {rel.condition!r}"
        )
    return _unq(m.group(1)), _unq(m.group(2)), _unq(m.group(3)), _unq(m.group(4))


def _rel_keys(rel: Relationship, near_model: str) -> tuple[str, str]:
    """(near_key, far_key) for a relationship traversed from near_model."""
    ma, ca, mb, cb = _parse_equi_condition(rel)
    if ma.lower() == near_model.lower():
        return ca, cb
    if mb.lower() == near_model.lower():
        return cb, ca
    raise PlanError(f"relationship {rel.name}: {near_model} is not an endpoint")


def _substitute_vars(condition: str, props: dict[str, str],
                     rule: RowLevelAccessControl) -> str:
    """Replace ``@var`` with session-property literals after validating
    required properties (access_control.rs:121-288 semantics)."""
    declared = {p.name: p for p in rule.required_properties}
    for p in rule.required_properties:
        if p.required and p.name not in props and p.default_expr is None:
            raise AccessControlError(
                f"RLS rule {rule.name!r}: required session property {p.name!r} missing"
            )

    def repl(m: re.Match) -> str:
        var = m.group(1).lower()
        if var in props:
            val = str(props[var])
        elif var in declared and declared[var].default_expr is not None:
            return f"({declared[var].default_expr})"
        else:
            raise AccessControlError(
                f"RLS rule {rule.name!r}: session property {var!r} not provided"
            )
        if _NUMERIC.match(val):
            return val
        return "'" + val.replace("'", "''") + "'"

    return _VAR.sub(repl, condition)


def _sanitize_rls(condition: str, rule_name: str) -> None:
    """Reject subqueries/statements inside RLS conditions
    (access_control.rs:216-248 parity)."""
    if _FORBIDDEN_RLS.search(condition):
        raise AccessControlError(
            f"RLS rule {rule_name!r}: condition must be a simple boolean "
            f"expression (no subqueries/statements)"
        )


def _clac_allows(clac: ColumnLevelAccessControl | None, props: dict[str, str]) -> bool:
    """Evaluate a column-level access rule against session properties
    (access_control.rs:290-399). Missing/failed -> column hidden."""
    if clac is None:
        return True
    for p in clac.required_properties:
        val = props.get(p.name, None)
        if val is None:
            if p.default_expr is not None:
                val = str(p.default_expr).strip("'\"")
            elif p.required:
                return False
            else:
                continue
        if clac.threshold is None:
            continue
        tv = clac.threshold.value
        if clac.threshold.type == "NUMERIC":
            try:
                a, b = float(val), float(tv)
            except ValueError:
                return False
        else:
            a, b = str(val), str(tv)
        op = clac.operator
        ok = (
            (op == "EQUALS" and a == b)
            or (op == "NOT_EQUALS" and a != b)
            or (op in ("GREATER_THAN", "GT") and a > b)
            or (op in ("LESS_THAN", "LT") and a < b)
            or (op in ("GREATER_THAN_OR_EQUALS", "GTE") and a >= b)
            or (op in ("LESS_THAN_OR_EQUALS", "LTE") and a <= b)
        )
        if not ok:
            return False
    return True


@dataclass
class _ModelPlan:
    """Resolved pieces of one model's expansion."""

    model: Model
    base: DataFrame                      # expression-projected + RLS-filtered
    visible: list[str] = field(default_factory=list)


class SemanticEngine:
    """Deploys an MDL manifest onto a SparkSession and answers SQL.

    Usage::

        eng = SemanticEngine(spark, manifest, sources)
        eng.deploy(properties={"session_level": "5000"})
        df = eng.sql('SELECT customer_name, total_spent FROM customer_m')
    """

    def __init__(self, spark: SparkSession, manifest: Manifest, sources: SourceRegistry):
        self.spark = spark
        self.manifest = manifest
        self.sources = sources
        self.properties: dict[str, str] = {}
        self._plans: dict[str, _ModelPlan] = {}
        # serializes variant-view swaps + analysis: the service layer may
        # call sql() from multiple threads on one shared session, and a
        # concurrent re-registration between A's view swap and A's
        # spark.sql() would fail A with UNRESOLVED_COLUMN
        self._sql_lock = threading.RLock()
        # analyzed-plan LRU: spark.sql analysis is eager, so a DataFrame
        # is an immutable bound plan — repeated query texts (dashboards,
        # polling agents) skip the parse+analyze round trip entirely.
        # Invalidated wholesale on (re)deploy.
        from collections import OrderedDict

        self._plan_cache: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._plan_cache_max = 256
        # bumped by every deploy() / refresh_cube(): a result computed
        # under one generation never answers a request under another
        self.generation = 0
        # local file or directory behind each model's source, resolved
        # at deploy; None when some model reads a source with no local
        # path (ref_sql, JDBC, catalog table, registered DataFrame,
        # object store) — nothing then proves a stored result fresh
        self.source_paths: tuple[str, ...] | None = None
        check_cycles(manifest)

    # ------------------------------------------------------------------ deploy

    def deploy(self, properties: dict[str, str] | None = None) -> "SemanticEngine":
        """Register every model (and then every view) as a temp view."""
        from wren_engine_spark.functions.compat import register_compat_functions

        register_compat_functions(self.spark)
        self.properties = {k.lower(): str(v) for k, v in (properties or {}).items()}
        self._plans = {}
        self._variants: dict[tuple[str, frozenset], DataFrame] = {}
        self._active_variant: dict[str, frozenset] = {}
        self._deployed_models: dict[str, DataFrame] = {}
        self._plan_cache.clear()
        for model in self.manifest.models:
            df = self._expand_model(model)
            if model.cached:
                # materialization hint (manifest-macro/src/lib.rs:141-168
                # `cached`+`refresh_time`); Spark equivalent: keep the
                # expanded view in executor storage. A production deploy
                # would write a refresh_time-scheduled Delta table.
                df = df.cache()
            _register_temp_view(self.spark, df, model.name)
            self._deployed_models[model.name] = df
        for view in self._views_in_dependency_order():
            _register_temp_view(
                self.spark, self.spark.sql(self._strip_ns(view.statement)), view.name
            )
        for cube in self.manifest.cubes:
            self._register_cube(cube)
        # last, so a request that started mid-deploy stores its result
        # under the previous generation
        self.source_paths = self._local_source_paths()
        self.generation += 1
        return self

    def _local_source_paths(self) -> tuple[str, ...] | None:
        model_names = {m.name.lower() for m in self.manifest.models}
        if any(c.base_object.lower() not in model_names for c in self.manifest.cubes):
            return None
        paths = []
        for model in self.manifest.models:
            p = None if model.ref_sql else self.sources.local_path(model.table_reference)
            if p is None:
                return None
            paths.append(p)
        return tuple(paths)

    def _views_in_dependency_order(self):
        """Register views so that a view referencing another view comes
        after it, regardless of manifest order (the reference expands
        views lazily — expand_view.rs:35-69 — so order never matters
        there; eager temp-view registration needs the topological sort).
        Cycles raise PlanError."""
        views = list(self.manifest.views)
        names = {v.name.lower(): v for v in views}
        deps: dict[str, set[str]] = {}
        for v in views:
            # identifier tokens outside string literals only — a view name
            # appearing in a literal is not a dependency
            refs = {
                n
                for n in identifiers(v.statement)
                if n in names and n != v.name.lower()
            }
            deps[v.name.lower()] = refs
        ordered, done = [], set()
        visiting: set[str] = set()

        def visit(name: str) -> None:
            if name in done:
                return
            if name in visiting:
                raise PlanError(f"view dependency cycle involving {name!r}")
            visiting.add(name)
            for d in sorted(deps[name]):
                visit(d)
            visiting.discard(name)
            done.add(name)
            ordered.append(names[name])

        for v in views:
            visit(v.name.lower())
        return ordered

    def reattach(self) -> "SemanticEngine":
        """Re-register this engine's views from the already-expanded
        frames (no re-expansion). Needed when another engine deployed
        same-named views on the shared session since this one did."""
        for name, df in self._deployed_models.items():
            _register_temp_view(self.spark, df, name)
        self._active_variant = {}
        for view in self._views_in_dependency_order():
            _register_temp_view(
                self.spark, self.spark.sql(self._strip_ns(view.statement)), view.name
            )
        return self

    def sql(
        self,
        sql: str,
        timezone: str | None = None,
        use_plan_cache: bool = True,
        finalize: Any | None = None,
    ) -> DataFrame:
        """Run user SQL against the deployed semantic layer.

        Before planning, each model view is re-registered with only the
        calculated fields the query references (semantic-layer column
        pruning — parity with ModelPlanNode's required-column collection,
        analyze/plan.rs:63-426). Catalyst prunes unused *columns* for
        free but keeps unused left joins/pre-aggregations in the plan;
        dropping unreferenced calculated fields removes those joins
        entirely. A ``*`` in the query keeps every field (schema must
        stay complete). Extra inclusions from name collisions are
        harmless (correctness unaffected, only cost).

        ``timezone`` evaluates THIS query under the given session zone
        (reference: per-request ``x-wren-timezone`` header,
        ibis-server/app/mdl/rewriter.py:176-186 /
        wren-core/core/src/mdl/context.rs:50-75). Spark's ResolveTimeZone
        rule stamps the session zone into every tz-aware expression at
        analysis time, so setting the conf around ``spark.sql`` (inside
        the planning lock) scopes it to this query; the default stays
        UTC.
        """
        # timezone'd / finalize-wrapped plans skip the cache (wrappers
        # vary per request and the queries are typically personalized)
        if timezone is not None or finalize is not None:
            use_plan_cache = False
        cache_key = (sql, timezone)
        # probe the cache BEFORE any text analysis: a hit needs zero lex
        # passes (an entry's presence proves it was cacheable), keeping
        # the cached path at ~0.05 ms even for long dashboard SQL
        if use_plan_cache:
            with self._sql_lock:
                hit = self._plan_cache.get(cache_key)
                if hit is not None:
                    self._plan_cache.move_to_end(cache_key)
                    return hit
        stripped = self._strip_ns(sql)
        from wren_engine_spark.plans.sqltext import identifiers_from_spans, lex

        spans = lex(stripped)
        star = _has_star_projection(spans)
        all_idents = identifiers_from_spans(spans)
        idents = None if star else all_idents
        # time-/randomness-dependent queries must re-plan every call
        if not is_deterministic(all_idents):
            use_plan_cache = False
        # spark.sql() analyzes eagerly (Dataset.ofRows asserts analysis),
        # so once it returns, the plan is bound to the views as they were
        # inside the lock; later swaps cannot affect it
        with self._sql_lock:
            for model in self.manifest.models:
                calcs = model.calculated_columns
                if not any(
                    extract_paths(model, self.manifest, c.expression or "") for c in calcs
                ):
                    continue  # no join-backed fields -> full view is already cheap
                if idents is None:
                    used = {c.name for c in calcs}
                else:
                    # identifier-token match (string literals excluded)
                    used = {c.name for c in calcs if c.name.lower() in idents}
                    # close over calc-to-calc references: a kept calc
                    # whose expression names another calc needs that calc
                    # attached too, or withColumn on the pruned view fails
                    by_lower = {c.name.lower(): c for c in calcs}
                    frontier = list(used)
                    while frontier:
                        c = by_lower[frontier.pop().lower()]
                        for dep in identifiers(c.expression or ""):
                            dc = by_lower.get(dep)
                            if dc is not None and dc.name not in used:
                                used.add(dc.name)
                                frontier.append(dc.name)
                key = (model.name.lower(), frozenset(used))
                df = self._variants.get(key)
                if df is None:
                    df = self._expand_model(model, calc_subset=used)
                    self._variants[key] = df
                # re-register only when the active variant actually changes
                # (one py4j round-trip per model otherwise)
                if self._active_variant.get(model.name.lower()) != key[1]:
                    _register_temp_view(self.spark, df, model.name)
                    self._active_variant[model.name.lower()] = key[1]
            tz_old: str | None = None
            if timezone is not None:
                _validate_timezone(timezone)
                tz_old = self.spark.conf.get("spark.sql.session.timeZone")
                self.spark.conf.set("spark.sql.session.timeZone", timezone)
            try:
                # direct JVM-session call: the PySpark sql() wrapper costs
                # several extra py4j round trips (~2x planning latency);
                # the DataFrame constructor below is pure-Python. Java
                # exceptions are converted to the standard PySpark types
                # in the except path so callers see identical errors.
                jdf = self.spark._jsparkSession.sql(stripped)
                df = DataFrame(jdf, self.spark)
                if finalize is not None:
                    # caller-supplied wrapping (output-zone rendering,
                    # limit) applied INSIDE the tz window so the derived
                    # plan's optimizer pass also sees the request zone
                    df = finalize(df)
                if timezone is not None:
                    # ResolveTimeZone stamps the zone at analysis, but
                    # current_date()/current_timezone() are substituted by
                    # the OPTIMIZER (ReplaceCurrentLike/ComputeCurrentTime)
                    # which normally runs lazily at first action — after
                    # the conf restore below. QueryExecution memoizes
                    # optimizedPlan, so forcing it here bakes those
                    # literals under the request zone too.
                    df._jdf.queryExecution().optimizedPlan()
                if use_plan_cache:
                    self._plan_cache[cache_key] = df
                    if len(self._plan_cache) > self._plan_cache_max:
                        self._plan_cache.popitem(last=False)
                return df
            except Exception as e:
                conv = _convert_java_exception(e)
                # PermissionAnalyze: turn UNRESOLVED_COLUMN on a
                # CLAC-hidden column into a clean permission error — but
                # ONLY for unresolved-column analysis failures, so
                # unrelated errors (syntax, runtime) are never masked as
                # permission denials
                msg = str(conv)
                if "UNRESOLVED_COLUMN" in msg or "cannot be resolved" in msg:
                    # Spark quotes multi-part names per part
                    # (`M`.`state`), so collect every backticked token —
                    # any of them may be the denied column
                    toks = re.findall(r"`([^`]+)`", msg)
                    self.analyze_permissions(stripped, unresolved=toks or None)
                if conv is e:
                    raise
                raise conv from None
            finally:
                if tz_old is not None:
                    self.spark.conf.set("spark.sql.session.timeZone", tz_old)

    def analyze_permissions(
        self, sql: str, unresolved: str | list[str] | None = None
    ) -> None:
        """PermissionAnalyze pass (access_control.rs:290-399 error path,
        mod.rs:543-592): when a query fails, distinguish "column denied
        by CLAC under the current session properties" from a plain
        unknown column, and raise a clean AccessControlError naming the
        denied columns instead of Spark's UNRESOLVED_COLUMN.

        Matching is identifier-token based (string literals excluded), so
        a denied column name appearing only inside a literal is never
        reported. When ``unresolved`` carries the identifier token(s)
        from the analysis error (Spark quotes multi-part names per part),
        only denied columns matching one of them are attributed — a
        different unresolved column is not misreported as a denial."""
        idents = identifiers(sql)
        if unresolved is None:
            unres: set[str] | None = None
        else:
            toks = [unresolved] if isinstance(unresolved, str) else unresolved
            unres = {p.lower() for t in toks for p in t.split(".")}
        denied: list[str] = []
        for model in self.manifest.models:
            if model.name.lower() not in idents:
                continue
            for c in model.columns:
                if c.column_level_access_control is None:
                    continue
                if _clac_allows(c.column_level_access_control, self.properties):
                    continue
                if unres is not None and c.name.lower() not in unres:
                    continue
                if c.name.lower() in idents:
                    denied.append(f"{model.name}.{c.name}")
        if denied:
            raise AccessControlError(
                "column access denied by column-level access control: "
                + ", ".join(sorted(denied))
            )

    def dry_run(self, sql: str) -> None:
        """Analyze-only (reference dryRun flag): raises on invalid SQL or
        access-control violations, moves no data."""
        self.sql(sql).schema  # Catalyst analysis is triggered by .schema

    def dry_plan(self, sql: str, dialect: str | None = None) -> str:
        """Expanded standalone SQL text for the query (reference
        /dry-plan endpoint, v3/connector.py:250-341), built by the CTE
        rewriter over the same lineage the DataFrame path uses.

        ``dialect`` renders the text for another engine (reference
        transpile: ibis-server/app/mdl/rewriter.py:90-104) — 'duckdb',
        'postgres', 'ansi', or None/'spark' for Spark SQL."""
        from wren_engine_spark.plans.cte_rewriter import CteRewriter
        from wren_engine_spark.plans.dialect import render

        source_sql = {
            m.name: self.sources.resolve_sql(m.table_reference)
            if m.table_reference
            else f"({self._strip_ns(m.ref_sql)})"
            for m in self.manifest.models
        }
        text = CteRewriter(self.manifest, self.properties, source_sql).rewrite(
            self._strip_ns(sql)
        )
        return render(text, dialect)

    # ------------------------------------------------------- model expansion

    def _strip_ns(self, sql: str) -> str:
        """Strip ``catalog.schema.`` prefixes from model references — temp
        views live in a flat namespace (model_anlayze.rs:56-64 step 3 does
        the same before unparse). Rewrites are quote-aware: content of
        single-quoted string literals is never touched."""
        cat, sch = self.manifest.catalog, self.manifest.schema

        def seg(s: str) -> str:
            for pat in (
                rf'"{cat}"\s*\.\s*"{sch}"\s*\.',
                rf"\b{re.escape(cat)}\s*\.\s*{re.escape(sch)}\s*\.",
                rf'\b{re.escape(sch)}\s*\.\s*(?=")',
            ):
                s = re.sub(pat, "", s)
            # double-quoted identifiers -> backticks (Spark default parser)
            return re.sub(r'"([^"]+)"', r"`\1`", s)

        return rewrite_outside_literals(sql, seg)

    def _source_df(self, model: Model) -> DataFrame:
        if model.ref_sql:
            return self.spark.sql(self._strip_ns(model.ref_sql))
        return self.sources.resolve(model.table_reference)

    def _expr(self, sql_expr: str) -> SparkColumn:
        return F.expr(
            rewrite_outside_literals(
                sql_expr, lambda s: re.sub(r'"([^"]+)"', r"`\1`", s)
            )
        )

    def _base_plan(self, model: Model) -> _ModelPlan:
        """Expression-projected + RLS-filtered frame with *all* physical
        columns (pre-CLAC). Cached per deploy."""
        key = model.name.lower()
        if key in self._plans:
            return self._plans[key]
        src = self._source_df(model)
        cols = [self._expr(c.sql_expression).alias(c.name) for c in model.physical_columns]
        base = src.select(*cols)
        for rule in model.row_level_access_controls:
            _sanitize_rls(rule.condition, rule.name)
            cond = _substitute_vars(rule.condition, self.properties, rule)
            base = base.filter(self._expr(cond))
        plan = _ModelPlan(model=model, base=base)
        self._plans[key] = plan
        return plan

    def _expand_model(self, model: Model, calc_subset: set[str] | None = None) -> DataFrame:
        """Build the model view. ``calc_subset`` limits which calculated
        fields are attached (None = all; see sql() pruning)."""
        plan = self._base_plan(model)
        df = plan.base
        attached: set[str] = set()
        # attach in dependency order (a plain calc may reference another
        # calc of the same model — manifest order must not matter);
        # leftovers with unsatisfiable deps attach last so the analysis
        # error names the actual missing column
        calc_names = {c.name.lower() for c in model.calculated_columns}
        avail = {c.lower() for c in df.columns}
        pending = [
            c for c in model.calculated_columns
            if calc_subset is None or c.name in calc_subset
        ]
        progress = True
        while pending and progress:
            progress, rest = False, []
            for col in pending:
                deps = identifiers(col.expression or "") & calc_names
                if deps - {col.name.lower()} <= avail:
                    df = self._attach_calculated(df, model, col)
                    attached.add(col.name)
                    avail.add(col.name.lower())
                    progress = True
                else:
                    rest.append(col)
            pending = rest
        for col in pending:
            df = self._attach_calculated(df, model, col)
            attached.add(col.name)
        visible = [
            c.name
            for c in model.columns
            if not c.is_relationship
            and not c.is_hidden
            and (not c.is_calculated or calc_subset is None or c.name in attached)
            and _clac_allows(c.column_level_access_control, self.properties)
        ]
        plan.visible = visible
        return df.select(*[quote_ident(c) for c in visible])

    # ------------------------------------------------ calculated-field joins

    def _attach_calculated(self, df: DataFrame, model: Model, col: Column) -> DataFrame:
        expr = col.expression or ""
        paths = extract_paths(model, self.manifest, expr)
        if not paths:
            # plain expression over the model's own columns
            return df.withColumn(col.name, self._expr(expr))
        if is_aggregate_expression(expr):
            return self._attach_to_many(df, model, col, expr, paths)
        return self._attach_to_one(df, model, col, expr, paths)

    def _path_frame(
        self, model: Model, path: RelPath, prefix: str
    ) -> tuple[DataFrame, str, str, dict[str, str]]:
        """Build the joined far-side frame for a relationship path.

        Returns (frame, base_key, far_key_col, rename_map) where ``frame``
        contains the hop-1 join key named ``far_key_col`` and every column
        of the terminal model prefixed, ``base_key`` is the column on the
        base model to join against, and rename_map maps terminal-model
        column names -> prefixed names (for expression rewriting).
        """
        cur_model = model
        frame: DataFrame | None = None
        far_key_col = ""
        base_key = ""
        rename: dict[str, str] = {}
        for hop_idx, hop in enumerate(path.hops):
            relcol = cur_model.column(hop)
            rel = self.manifest.relationship(relcol.relationship)
            near_key, far_key = _rel_keys(rel, cur_model.name)
            target = self.manifest.model(rel.other_model(cur_model.name))
            tplan = self._base_plan(target)
            tdf = tplan.base
            # inline the target's own non-relationship calculated columns so
            # calc-on-calc works one level at a time (PartialModelPlanNode,
            # plan.rs:1149-1201) — iterative, not recursive: deeper paths
            # were already rejected by check_cycles. Only calcs whose
            # calc-references are already resolvable are inlined (a plain
            # calc built ON a join-backed calc cannot ride along a
            # relationship hop); fixpoint iteration makes manifest order
            # irrelevant for plain-calc -> plain-calc chains.
            tcalc_names = {c.name.lower() for c in target.calculated_columns}
            avail = {c.lower() for c in tdf.columns}
            pending = [
                c for c in target.calculated_columns
                if not extract_paths(target, self.manifest, c.expression or "")
            ]
            progress = True
            while pending and progress:
                progress, rest = False, []
                for tcol in pending:
                    deps = identifiers(tcol.expression or "") & tcalc_names
                    if deps <= avail:
                        tdf = tdf.withColumn(tcol.name, self._expr(tcol.expression))
                        avail.add(tcol.name.lower())
                        progress = True
                    else:
                        rest.append(tcol)
                pending = rest
            pfx = f"{prefix}_h{hop_idx}"
            this_rename = {c: f"{pfx}__{c}" for c in tdf.columns}
            tdf = tdf.select(*[F.col(quote_ident(c)).alias(n) for c, n in this_rename.items()])
            if frame is None:
                frame = tdf
                base_key = near_key
                far_key_col = this_rename[self._resolve_name(target, far_key)]
            else:
                # join previous chain to this hop's target
                prev_key = rename[self._resolve_name(cur_model, near_key)]
                frame = frame.join(
                    tdf,
                    on=F.col(quote_ident(prev_key))
                    == F.col(quote_ident(this_rename[self._resolve_name(target, far_key)])),
                    how="left",
                )
            rename = this_rename
            cur_model = target
        return frame, base_key, far_key_col, rename

    @staticmethod
    def _resolve_name(model: Model, name: str) -> str:
        c = model.column(name)
        return c.name if c is not None else name

    def _attach_to_one(
        self, df: DataFrame, model: Model, col: Column, expr: str, paths: list[RelPath]
    ) -> DataFrame:
        """Inline a to-one calculated field: left-join the relationship
        chain (each hop declared to-one, so base cardinality is stable —
        invariant tested by model.slt:37-44) and evaluate the rewritten
        expression."""
        out = df
        for i, path in enumerate(paths):
            for hop_idx, hop in enumerate(path.hops):
                relcol = (model if hop_idx == 0 else self.manifest.model(path.models[hop_idx - 1])).column(hop)
                rel = self.manifest.relationship(relcol.relationship)
                near = model.name if hop_idx == 0 else path.models[hop_idx - 1]
                if not rel.is_to_one(near):
                    raise PlanError(
                        f"calculated field {model.name}.{col.name}: non-aggregate "
                        f"expression crosses to-many relationship {rel.name}"
                    )
            prefix = f"__calc{abs(hash((col.name, i))) % 10_000}"
            frame, base_key, far_key_col, rename = self._path_frame(model, path, prefix)
            out = out.join(
                frame,
                on=F.col(quote_ident(base_key)) == F.col(quote_ident(far_key_col)),
                how="left",
            )
            expr = expr.replace(path.raw, quote_ident(rename[self._resolve_name(
                self.manifest.model(path.models[-1]), path.terminal)]))
        out = out.withColumn(col.name, self._expr(expr))
        return out.select(*[quote_ident(c) for c in df.columns], quote_ident(col.name))

    def _attach_to_many(
        self, df: DataFrame, model: Model, col: Column, expr: str, paths: list[RelPath]
    ) -> DataFrame:
        """Aggregate calculated field: pre-aggregate the far side grouped
        by the hop-1 join key, then left-join 1:1 on the base key
        (plan.rs:1038-1143 + model_generation.rs:212-260 semantics; the
        pre-aggregation keeps base-model cardinality unchanged).

        Requires a primary key when the expression mixes paths, matching
        plan.rs:241-249."""
        if len(paths) != 1:
            raise PlanError(
                f"calculated field {model.name}.{col.name}: multiple relationship "
                f"paths in one aggregate expression are not yet supported"
            )
        path = paths[0]
        prefix = f"__agg{abs(hash(col.name)) % 10_000}"
        frame, base_key, far_key_col, rename = self._path_frame(model, path, prefix)
        terminal_model = self.manifest.model(path.models[-1])
        agg_expr = expr.replace(
            path.raw, quote_ident(rename[self._resolve_name(terminal_model, path.terminal)])
        )
        grouped = frame.groupBy(F.col(quote_ident(far_key_col))).agg(
            self._expr(agg_expr).alias(col.name)
        )
        out = df.join(
            grouped,
            on=F.col(quote_ident(base_key)) == F.col(quote_ident(far_key_col)),
            how="left",
        )
        return out.select(*[quote_ident(c) for c in df.columns], quote_ident(col.name))

    # ----------------------------------------------------------------- cubes

    @staticmethod
    def _single_top_agg(expr: str) -> tuple[str, str] | None:
        """``(HEAD, inner)`` iff ``expr`` is exactly one top-level
        aggregate call ``HEAD( inner )`` — the head's closing paren must
        be the LAST non-space character. A compound measure like
        ``SUM(a)/COUNT(*)`` returns None: its text head is 'SUM' but
        re-aggregating it as a plain sum of the pre-agg ratio column
        would silently answer wrong (the round-5 advisor's case).
        Single-quoted SQL strings are skipped so a paren inside a
        literal cannot unbalance the scan."""
        import re as _re

        m = _re.match(r"\s*([A-Za-z_][A-Za-z_0-9]*)\s*\(", expr)
        if not m:
            return None
        head = m.group(1).upper()
        i, depth, start = m.end() - 1, 0, m.end() - 1
        while i < len(expr):
            c = expr[i]
            if c == "'":  # skip string literal ('' = escaped quote)
                i += 1
                while i < len(expr):
                    if expr[i] == "'":
                        if i + 1 < len(expr) and expr[i + 1] == "'":
                            i += 2
                            continue
                        break
                    i += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    if expr[i + 1 :].strip():
                        return None  # trailing operators: compound
                    return head, expr[start + 1 : i]
            i += 1
        return None

    def _register_cube(self, cube) -> None:
        """Cube -> groupBy(dims).agg(measures) view over its base model
        (SURVEY §1.1 Cube row); ``cached`` materializes it.

        AVG measures additionally materialize hidden exact components
        ``__<name>_sum`` / ``__<name>_cnt`` at cube grain — the
        standard cube answer for the non-distributive AVG — so
        ``cube_drill`` can derive the coarser-grain average as
        sum-of-sums / sum-of-counts. The hidden columns live only in
        the cached drill frame, not in the registered view."""
        dims = [self._expr(d.expression).alias(d.name) for d in cube.dimensions]
        dims += [self._expr(t.expression).alias(t.name) for t in cube.time_dimensions]
        meas = [self._expr(m.expression).alias(m.name) for m in cube.measures]
        visible = [d.name for d in cube.dimensions]
        visible += [t.name for t in cube.time_dimensions]
        visible += [m.name for m in cube.measures]
        for m in cube.measures:
            top = self._single_top_agg(m.expression)
            if top is not None and top[0] == "AVG" and not re.match(
                r"\s*DISTINCT\b", top[1], re.IGNORECASE
            ):
                meas.append(
                    self._expr(f"SUM({top[1]})").alias(f"__{m.name}_sum")
                )
                meas.append(
                    self._expr(f"COUNT({top[1]})").alias(f"__{m.name}_cnt")
                )
        base = self.spark.table(cube.base_object)
        out = base.groupBy(*dims).agg(*meas) if dims else base.agg(*meas)
        if cube.cached:
            out = out.cache()
        # the view exposes the declared columns only; it projects the
        # SAME (cached) frame, so no second materialization happens
        _register_temp_view(self.spark, out.select(*visible), cube.name)
        if not hasattr(self, "_cube_frames"):
            self._cube_frames: dict[str, DataFrame] = {}
        self._cube_frames[cube.name] = out

    def cube_drill(
        self,
        name: str,
        hierarchy: str | None = None,
        level: str | None = None,
    ) -> DataFrame:
        """Answer a coarser-grain query THROUGH a cube: re-aggregate the
        materialized pre-agg up the named hierarchy to ``level`` (which
        must be a member of the hierarchy; all levels up to and
        including it are kept, the finer ones roll up). Reference cube
        hierarchies: manifest-macro/src/lib.rs:352-385.

        Measures must be a single top-level aggregate call and
        re-aggregate by head — SUM/COUNT roll up as sums (a DECIMAL
        sum stays exact under re-aggregation), MIN/MAX as min/max, AVG
        derives from the hidden exact (sum, count) components
        materialized at registration (sum-of-sums / sum-of-counts, one
        final double division); compound expressions and DISTINCT
        counts are not distributive over the pre-agg and raise
        PlanError rather than silently answering wrong. At scale this
        is the point of a cube: the drill scans the cached pre-agg
        (cube-cardinality rows), not the base fact table.
        """
        cube = next((c for c in self.manifest.cubes if c.name == name), None)
        if cube is None:
            raise PlanError(f"unknown cube {name!r}")
        frame = getattr(self, "_cube_frames", {}).get(name)
        if frame is None:
            raise PlanError(f"cube {name!r} is not deployed")
        dims = [d.name for d in cube.dimensions]
        dims += [t.name for t in cube.time_dimensions]
        if hierarchy is None and level is not None:
            raise PlanError(
                f"level {level!r} given without a hierarchy — a drill "
                "needs both (omitting hierarchy returns the full grain)"
            )
        if hierarchy is not None:
            hier = cube.hierarchies.get(hierarchy)
            if hier is None:
                raise PlanError(
                    f"cube {name!r} has no hierarchy {hierarchy!r} "
                    f"(has: {sorted(cube.hierarchies)})"
                )
            if level not in hier:
                raise PlanError(
                    f"level {level!r} not in hierarchy {hierarchy!r} ({hier})"
                )
            keep = hier[: hier.index(level) + 1]
            keep += [d for d in dims if d not in hier]
        else:
            keep = dims
        aggs = []
        for m in cube.measures:
            # the measure must be a SINGLE top-level aggregate call —
            # a compound like SUM(a)/COUNT(*) has text head 'SUM' but
            # summing the pre-agg ratio column would silently answer
            # wrong (the exact failure this guard exists to prevent)
            top = self._single_top_agg(m.expression)
            if top is None:
                raise PlanError(
                    f"measure {m.name!r} ({m.expression!r}) is not a "
                    "single top-level aggregate and cannot be "
                    "re-aggregated over the pre-agg; query the base "
                    "model instead"
                )
            head, inner = top
            # DISTINCT as the aggregate's qualifier only — a column
            # NAMED e.g. distinct_users is perfectly re-aggregatable
            if re.match(r"\s*DISTINCT\b", inner, re.IGNORECASE):
                raise PlanError(
                    f"measure {m.name!r} (DISTINCT) is not re-aggregatable "
                    "over the pre-agg"
                )
            if head in ("SUM", "COUNT"):
                aggs.append(F.sum(m.name).alias(m.name))
            elif head == "MIN":
                aggs.append(F.min(m.name).alias(m.name))
            elif head == "MAX":
                aggs.append(F.max(m.name).alias(m.name))
            elif head == "AVG" and f"__{m.name}_sum" in frame.columns:
                # derived measure: exact component sums roll up, ONE
                # final double division (deterministic at any grain)
                aggs.append(
                    (
                        F.sum(f"__{m.name}_sum").cast("double")
                        / F.sum(f"__{m.name}_cnt").cast("double")
                    ).alias(m.name)
                )
            else:
                raise PlanError(
                    f"measure {m.name!r} ({head}) is not re-aggregatable "
                    "over the pre-agg; query the base model instead"
                )
        return frame.groupBy(*[F.col(k) for k in keep]).agg(*aggs)

    def refresh_cube(self, name: str) -> None:
        """Recompute a cube's materialization (the ``refresh_time`` hook
        — manifest-macro/src/lib.rs:141-168; production would schedule
        this). Drops the cached frame and re-registers from the current
        base model state."""
        cube = next((c for c in self.manifest.cubes if c.name == name), None)
        if cube is None:
            raise PlanError(f"unknown cube {name!r}")
        old = getattr(self, "_cube_frames", {}).get(name)
        if old is not None:
            old.unpersist()
        self._register_cube(cube)
        self.generation += 1

    # ------------------------------------------------------------- metadata

    def model_schema(self, name: str) -> list[tuple[str, str]]:
        """Visible (name, type) pairs for a deployed model view."""
        df = self.spark.table(name)
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
