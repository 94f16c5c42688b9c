"""Serving layer: the reference's v3 API surface over SemanticEngine.

Maps SURVEY.md §2.C onto plain Python methods (SemanticService) plus an
optional FastAPI app factory (guarded import — fastapi is not in the
base container). Endpoints → methods:

  POST /v3/connector/{ds}/query (+dryRun/limit)        -> query()
  POST /v3/connector/dry-plan                          -> dry_plan()
  POST /{ds}/validate/{rule}                           -> validate()
  GET  /{ds}/functions, /function/{name}               -> functions()/function()
  POST /{ds}/model-substitute                          -> model_substitute()
  metadata endpoints                                   -> tables()/columns()

Result JSON matches the reference formatter
(ibis-server/app/util.py:122-147, 284-305): {columns, data, dtypes} with
decimal→float (0-case kept), dates ``%Y-%m-%d``, timestamps
``%Y-%m-%d %H:%M:%S.%f``, binary→hex.

Result cache (the reference's query cache, always on, in memory):
``query()`` answers a repeated request from a stored envelope only when
it can prove the envelope fresh.
  - key: (deploy generation, sql, limit, timezone). Every ``deploy()``
    (manifest, session/RLS properties) and ``refresh_cube()`` starts a
    new generation.
  - freshness: the ``sources.fstoken`` token (relpath, size, mtime_ns)
    of every model's source file or directory, taken before the stored
    query ran, must equal the token taken for the request.
  - never cached: ``dry_run``; SQL naming a time or random function
    (the plan cache's rule, ``engine.is_deterministic``); a query whose
    analyzed plan reads anything besides the model source files (a
    catalog table, file path or temp view named around the models);
    and every request of a deployment in which some model reads a
    source with no local path — ``ref_sql``, JDBC, catalog tables,
    ``add_dataframe`` frames, object stores — or a cube sits on a
    non-model base.
  - bounds: an LRU of 256 entries and 1M cells (rows x columns) in
    total; a larger result is returned but not stored.
A miss stores the rows it returned (no second execution); a hit returns
a private copy marked ``"cached": true`` and starts no Spark job.
"""

from __future__ import annotations

import copy
import datetime
import os
import re
import threading
from collections import OrderedDict
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame

from wren_engine_spark.engine import SemanticEngine, is_deterministic
from wren_engine_spark.functions.catalog import FunctionCatalog
from wren_engine_spark.plans.sqltext import identifiers
from wren_engine_spark.sources.fstoken import fs_token, local_path

_LIMIT_TAIL = re.compile(r"\bLIMIT\s+(\d+)\s*;?\s*$", re.IGNORECASE)


def pushdown_limit(sql: str, limit: int | None) -> str:
    """Merge a server-side limit into the SQL text (reference
    wren-core-py/src/context.rs:271 + util.py:234-236: min of existing
    and requested). Trailing ``--`` comments are stripped first so the
    appended LIMIT can never be swallowed by one. The executing path
    (``SemanticService.query``) additionally applies ``df.limit`` on the
    DataFrame, which is comment/offset-proof by construction."""
    if limit is None:
        return sql
    from wren_engine_spark.plans.sqltext import strip_trailing_comments

    sql = strip_trailing_comments(sql).rstrip(";").rstrip()
    m = _LIMIT_TAIL.search(sql)
    if m:
        existing = int(m.group(1))
        return _LIMIT_TAIL.sub(f"LIMIT {min(existing, limit)}", sql)
    return f"{sql} LIMIT {limit}"


def _format_cell(v: Any) -> Any:
    # util.py:284-305 _formater parity
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return [_format_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _format_cell(x) for k, x in v.items()}
    return v


def _render_timestamps_in_zone(df: DataFrame, tz: str) -> DataFrame:
    """Convert TIMESTAMP (instant / LTZ) columns to the requested zone's
    wall clock as TIMESTAMP_NTZ — the reference formatter's display
    semantics (tz_convert then offset-free strftime). The construction
    is session-zone INDEPENDENT (it must be: these expressions may be
    analyzed inside the per-request timezone window): shift the instant
    by the zone offset (``from_utc_timestamp`` is pure micros
    arithmetic) and rebuild an NTZ from epoch micros. NTZ columns pass
    through — they carry no zone to convert."""
    from pyspark.sql import functions as F

    from wren_engine_spark.mdl.manifest import quote_ident

    fields = [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ]
    if not any(t == "timestamp" for _, t in fields):
        return df

    safe_tz = tz.replace("'", "''")

    def wall_clock(name: str):
        return F.expr(
            "timestampadd(MICROSECOND, unix_micros("
            f"from_utc_timestamp({quote_ident(name)}, '{safe_tz}')"
            "), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )

    return df.select(
        *[
            wall_clock(name).alias(name) if t == "timestamp" else F.col(quote_ident(name))
            for name, t in fields
        ]
    )


def to_json(df: DataFrame, rows: list | None = None) -> dict:
    """{columns, data, dtypes} result envelope."""
    collected = df.collect() if rows is None else rows
    return {
        "columns": df.columns,
        "data": [[_format_cell(v) for v in row] for row in collected],
        "dtypes": {f.name: f.dataType.simpleString() for f in df.schema.fields},
    }


# result-cache bounds: as many entries as the engine's plan cache, and
# at most this many cells (rows x columns) across all stored results; a
# result larger than the whole budget is returned but never stored
_RESULT_CACHE_ENTRIES = 256
_RESULT_CACHE_CELLS = 1_000_000


def _copy_envelope(env: dict, nested: bool) -> dict:
    """A copy of a result envelope that shares nothing mutable with it
    (array/map/struct cells are lists and dicts, so ``nested`` results
    copy deeply)."""
    data = copy.deepcopy(env["data"]) if nested else [list(r) for r in env["data"]]
    return {"columns": list(env["columns"]), "data": data, "dtypes": dict(env["dtypes"])}


def _reads_only(df: DataFrame, paths: tuple[str, ...]) -> bool:
    """True when every leaf of ``df``'s analyzed plan is a file scan of
    one of ``paths`` (the model sources) or a relation with no data
    behind it (``SELECT 1``, ``range()``), so the token of ``paths``
    covers everything the result was computed from. A catalog table, a
    file path or temp view named around the models, or an in-memory
    frame makes it False. A few py4j calls per leaf, on misses only."""
    roots = {os.path.abspath(p) for p in paths}
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.nodeName()
        if name in ("OneRowRelation", "Range"):
            continue
        if name != "LogicalRelation" or leaf.catalogTable().isDefined():
            return False
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return False
        scanned = rel.location().rootPaths()
        for j in range(scanned.size()):
            p = local_path(scanned.apply(j).toString())
            if p is None or os.path.abspath(p) not in roots:
                return False
    return True


class ResultCache:
    """In-memory LRU of result envelopes — the reference's query cache
    (app/query_cache/__init__.py:11-48) with proof of freshness: an
    entry is keyed by (deploy generation, sql, limit, timezone) and
    carries the filesystem token of every model source taken before its
    query ran; it answers only a request whose fresh token is equal.
    One lock guards the entries; concurrent misses on a key all
    execute, and the last to finish is stored."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple, tuple] = OrderedDict()
        self._cells = 0
        self._stats = dict.fromkeys(("hits", "misses", "bypasses", "evictions"), 0)

    def count(self, what: str) -> None:
        with self._lock:
            self._stats[what] += 1

    def get(self, key: tuple, token: tuple) -> dict | None:
        with self._lock:
            hit = self._entries.get(key)
            if hit is not None and hit[0] != token:
                self._drop(key)  # its sources changed since it was stored
                hit = None
            if hit is None:
                return None
            self._entries.move_to_end(key)
            self._stats["hits"] += 1
        _token, env, nested, _cells = hit
        return {**_copy_envelope(env, nested), "cached": True}

    def put(self, key: tuple, token: tuple, env: dict) -> None:
        cells = len(env["data"]) * len(env["columns"])
        if cells > _RESULT_CACHE_CELLS:
            return
        nested = any(
            t.startswith(("array", "map", "struct")) for t in env["dtypes"].values()
        )
        entry = (token, _copy_envelope(env, nested), nested, cells)
        with self._lock:
            if key in self._entries:
                self._drop(key)
            self._entries[key] = entry
            self._cells += cells
            while len(self._entries) > _RESULT_CACHE_ENTRIES or self._cells > _RESULT_CACHE_CELLS:
                self._drop(next(iter(self._entries)))
                self._stats["evictions"] += 1

    def _drop(self, key: tuple) -> None:
        self._cells -= self._entries.pop(key)[3]

    def stats(self) -> dict:
        with self._lock:
            return {**self._stats, "entries": len(self._entries), "cells": self._cells}


class QueryTimeoutError(TimeoutError):
    """Raised when a query exceeds its timeout; the Spark job group is
    cancelled so executors stop burning (reference timeout envelope:
    ibis-server/app/util.py:319-475 — asyncio timeout + connector
    close; here the Spark-native equivalent is job-group cancellation)."""


def collect_with_timeout(df: DataFrame, timeout_s: float | None) -> list:
    """Collect ``df``, cancelling the underlying Spark jobs if they run
    past ``timeout_s`` seconds."""
    if not timeout_s:
        return df.collect()
    import threading
    import uuid

    sc = df.sparkSession.sparkContext
    group = f"weng-timeout-{uuid.uuid4().hex[:8]}"
    result: list = []
    err: list = []

    def run() -> None:
        # job-group tags are thread-local; set inside the worker thread
        sc.setJobGroup(group, "query-with-timeout", interruptOnCancel=True)
        try:
            result.append(df.collect())
        except Exception as e:  # noqa: BLE001 - surfaced to caller
            err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        sc.cancelJobGroup(group)
        raise QueryTimeoutError(f"query exceeded {timeout_s}s and was cancelled")
    if err:
        raise err[0]
    return result[0]


class SemanticService:
    def __init__(self, engine: SemanticEngine):
        self.engine = engine
        self.catalog = FunctionCatalog(engine.spark)
        self.results = ResultCache()

    # ------------------------------------------------------------- query

    def query(
        self,
        sql: str,
        limit: int | None = None,
        dry_run: bool = False,
        timeout_s: float | None = None,
        timezone: str | None = None,
    ) -> dict | None:
        """``timezone`` is the per-request zone (reference
        ``x-wren-timezone`` header): tz-aware expressions evaluate under
        it (engine.sql stamps it at analysis) and TIMESTAMP (instant)
        result columns are rendered as that zone's wall clock — the
        formatter parity of ibis-server/app/util.py:149-190, whose
        ``tz_convert`` + offset-free strftime does the same.

        A repeat of an earlier request is answered from the result
        cache (see ``ResultCache``) when the deployment is the same and
        no model source file has changed since; the hit carries
        ``"cached": true`` and starts no Spark job."""
        if dry_run:
            self.engine.dry_run(sql)
            return None
        # generation first: a deploy() finishing after this read leaves
        # the result under the old generation, where nothing reads it
        key = (self.engine.generation, sql, limit, timezone)
        paths = self.engine.source_paths
        token = fs_token(paths) if paths is not None else None
        if token is not None:
            hit = self.results.get(key, token)
            if hit is not None:
                return hit
        cacheable = token is not None and is_deterministic(identifiers(sql))

        def _finalize(df: DataFrame) -> DataFrame:
            if timezone is not None:
                df = _render_timestamps_in_zone(df, timezone)
            if limit is not None:
                # post-parse limit merge: composing df.limit with any
                # LIMIT already in the SQL yields the min, and text edge
                # cases (trailing comments, OFFSET) cannot break it
                df = df.limit(limit)
            return df

        if timezone is not None:
            # finalize runs inside the engine's timezone window so the
            # derived plan's optimizer pass sees the request zone too
            df = self.engine.sql(sql, timezone=timezone, finalize=_finalize)
        else:
            # limit applied OUTSIDE engine.sql so the base plan stays
            # eligible for the analyzed-plan cache (dashboards/polling
            # agents send {sql, limit} repeatedly); df.limit on an
            # already-analyzed frame is a cheap derived plan
            df = self.engine.sql(sql)
            if limit is not None:
                df = df.limit(limit)
        cacheable = cacheable and _reads_only(df, paths)
        self.results.count("misses" if cacheable else "bypasses")
        out = to_json(df, rows=collect_with_timeout(df, timeout_s))
        if cacheable:
            self.results.put(key, token, out)
        return out

    def cache_stats(self) -> dict:
        """Result-cache counters: hits, misses, bypasses (a query that
        names a time/random function, or a deployment whose sources have
        no local file token), evictions (LRU, by entry count or cell
        budget), and the current entries and stored cells."""
        return self.results.stats()

    def dry_plan(self, sql: str, dialect: str | None = None) -> str:
        return self.engine.dry_plan(sql, dialect=dialect)

    def analyze(self, sql: str) -> dict:
        """Decision-point analysis of a SQL against the deployed semantic
        layer (reference ``GET /v2/analysis/sql``,
        ibis-server/app/routers/v2/analysis.py:9-16 / app/mdl/analyzer.py):
        which models the query touches, which of their columns resolve,
        which calculated fields expand (and across which relationship
        paths), and the physical source behind each model."""
        from wren_engine_spark.mdl.lineage import extract_paths

        idents = identifiers(sql)
        out: list[dict] = []
        for model in self.engine.manifest.models:
            if model.name.lower() not in idents:
                continue
            used_cols = [
                c.name
                for c in model.columns
                if not c.is_hidden and not c.is_relationship
                and c.name.lower() in idents
            ]
            calc = []
            for c in model.calculated_columns:
                if c.name not in used_cols:
                    continue
                paths = extract_paths(model, self.engine.manifest, c.expression or "")
                calc.append(
                    {
                        "name": c.name,
                        "expression": c.expression,
                        "relationships": [
                            {"hops": p.hops, "models": p.models} for p in paths
                        ],
                    }
                )
            out.append(
                {
                    "model": model.name,
                    "source": model.table_reference or "(ref_sql)",
                    "columns": used_cols,
                    "calculated_fields": calc,
                }
            )
        return {"models": out}

    # ---------------------------------------------------------- validate

    def validate_column_is_valid(self, model: str, column: str) -> bool:
        """validate/{rule=column_is_valid} (app/model/validator.py):
        probe ``SELECT col FROM model LIMIT 1``."""
        try:
            self.engine.sql(f"SELECT `{column}` FROM `{model}` LIMIT 1").collect()
            return True
        except Exception:  # noqa: BLE001
            return False

    # ---------------------------------------------------------- metadata

    def tables(self) -> list[dict]:
        out = []
        for m in self.engine.manifest.models:
            out.append(
                {
                    "name": m.name,
                    "primaryKey": m.primary_key,
                    "columns": [
                        {"name": c.name, "type": c.type, "calculated": c.is_calculated}
                        for c in m.columns
                        if not c.is_relationship and not c.is_hidden
                    ],
                }
            )
        return out

    def relationships(self) -> list[dict]:
        return [
            {"name": r.name, "models": r.models, "joinType": r.join_type,
             "condition": r.condition}
            for r in self.engine.manifest.relationships
        ]

    def functions(self) -> list[dict]:
        return [f.to_dict() for f in self.catalog.list_functions()]

    def function(self, name: str) -> dict | None:
        spec = self.catalog.describe(name)
        return spec.to_dict() if spec else None

    def constraints(self) -> list[dict]:
        """Constraint metadata (reference get_constraints shape:
        ibis-server/app/model/metadata/dto.py Constraint): primary keys
        from the manifest plus FOREIGN-KEY-style rows derived from
        relationship conditions."""
        out = []
        for m in self.engine.manifest.models:
            if m.primary_key:
                out.append(
                    {
                        "constraintName": f"{m.name}_pkey",
                        "constraintType": "PRIMARY KEY",
                        "constraintTable": m.name,
                        "constraintColumn": m.primary_key,
                        "constraintedTable": m.name,
                        "constraintedColumn": m.primary_key,
                    }
                )
        for r in self.engine.manifest.relationships:
            m_ = re.match(
                r"\s*\"?(\w+)\"?\.\"?(\w+)\"?\s*=\s*\"?(\w+)\"?\.\"?(\w+)\"?\s*",
                r.condition or "",
            )
            if not m_:
                continue
            lt, lc, rt, rc = m_.groups()
            out.append(
                {
                    "constraintName": r.name,
                    "constraintType": "FOREIGN KEY",
                    "constraintTable": lt,
                    "constraintColumn": lc,
                    "constraintedTable": rt,
                    "constraintedColumn": rc,
                }
            )
        return out

    def version(self) -> str:
        """Backend version string (reference get_version metadata op)."""
        return f"spark {self.engine.spark.version}"

    def knowledge(self) -> dict:
        """Text-to-SQL knowledge for agents (reference GET /{ds}/knowledge,
        ibis-server/app/mdl/knowledge.py): engine dialect rules plus the
        deployed semantic schema, so an agent can write correct SQL
        against the models without seeing physical tables."""
        models = [
            {
                "model": m.name,
                "primaryKey": m.primary_key,
                "columns": [
                    c.name
                    for c in m.columns
                    if not c.is_relationship and not c.is_hidden
                ],
            }
            for m in self.engine.manifest.models
        ]
        rules = [
            "Dialect: Spark SQL (ANSI mode). Quote identifiers with backticks.",
            "Query MODELS (listed below), never physical tables; calculated "
            "columns are already joined/aggregated for you.",
            "Dates: DATE 'YYYY-MM-DD'; timestamps are session-timezone UTC.",
            "Use LIMIT to bound result size; ORDER BY is not implied.",
            "Division by zero yields an error under ANSI mode; use "
            "try_divide for nullable division.",
        ]
        return {"rules": rules, "schema": {"models": models,
                                           "relationships": self.relationships()}}

    # --------------------------------------------------- model substitute

    def model_substitute(self, sql: str) -> str:
        """Rewrite physical table references into model references
        (reference ibis-server/app/mdl/substitute.py:14-126)."""
        out = sql
        for m in self.engine.manifest.models:
            if not m.table_reference:
                continue
            short = m.table_reference.split(".")[-1]
            out = re.sub(
                rf"(?<![\w`.]){re.escape(m.table_reference)}(?![\w`])",
                f"`{m.name}`",
                out,
            )
            if short != m.table_reference:
                out = re.sub(
                    rf"(?<![\w`.]){re.escape(short)}(?![\w`])", f"`{m.name}`", out
                )
        return out


def create_app(service: SemanticService):
    """FastAPI façade (optional — fastapi absent in the base image)."""
    try:
        from fastapi import FastAPI, Header, HTTPException
    except ImportError as e:  # pragma: no cover
        raise RuntimeError("fastapi is not installed; use SemanticService directly") from e

    app = FastAPI(title="wren-engine-spark")

    @app.post("/v3/connector/spark/query")
    def query(body: dict, x_wren_timezone: str | None = Header(default=None)):
        try:
            return service.query(
                body["sql"],
                limit=body.get("limit"),
                dry_run=bool(body.get("dryRun")),
                timeout_s=body.get("timeoutSeconds"),
                timezone=x_wren_timezone or body.get("timezone"),
            )
        except QueryTimeoutError as e:
            raise HTTPException(status_code=504, detail=str(e)) from e
        except Exception as e:  # noqa: BLE001
            raise HTTPException(status_code=422, detail=str(e)) from e

    @app.post("/v3/connector/spark/dry-plan")
    def dry_plan(body: dict):
        return {"sql": service.dry_plan(body["sql"], dialect=body.get("dialect"))}

    @app.post("/v3/connector/spark/validate/column_is_valid")
    def validate(body: dict):
        ok = service.validate_column_is_valid(
            body["parameters"]["modelName"], body["parameters"]["columnName"]
        )
        if not ok:
            raise HTTPException(status_code=422, detail="column is not valid")
        return {}

    @app.get("/v3/connector/spark/functions")
    def functions():
        return service.functions()

    @app.post("/v3/connector/spark/model-substitute")
    def model_substitute(body: dict):
        return {"sql": service.model_substitute(body["sql"])}

    @app.get("/v3/connector/spark/function/{name}")
    def function(name: str):
        spec = service.function(name)
        if spec is None:
            raise HTTPException(status_code=404, detail=f"function {name} not found")
        return spec

    @app.get("/v3/connector/spark/metadata/tables")
    def tables():
        return service.tables()

    @app.get("/v3/connector/spark/metadata/relationships")
    def relationships():
        return service.relationships()

    @app.get("/v3/connector/spark/metadata/constraints")
    def constraints():
        return service.constraints()

    @app.get("/v3/connector/spark/metadata/version")
    def version():
        return {"version": service.version()}

    @app.get("/v3/connector/spark/knowledge")
    def knowledge():
        return service.knowledge()

    @app.post("/v2/analysis/sql")
    def analysis(body: dict):
        return service.analyze(body["sql"])

    return app
