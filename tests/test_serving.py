"""Serving-layer tests: query envelope, limit pushdown, validate,
metadata, model substitution, dry-plan twin, function catalog, and the
result cache (freshness, bypasses, bounds, counters)."""

import copy

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wren_engine_spark.queries.semantic import MANIFEST, deploy
from wren_engine_spark.serving import SemanticService, pushdown_limit, to_json


@pytest.fixture(scope="module")
def service(spark):
    return SemanticService(deploy(spark, SF_DIR))


class TestLimitPushdown:
    # wren-core-py/src/context.rs:271 semantics: min(existing, requested)
    def test_append(self):
        assert pushdown_limit("SELECT 1", 10) == "SELECT 1 LIMIT 10"

    def test_merge_min(self):
        assert pushdown_limit("SELECT 1 LIMIT 5", 10) == "SELECT 1 LIMIT 5"
        assert pushdown_limit("SELECT 1 LIMIT 50", 10) == "SELECT 1 LIMIT 10"

    def test_none(self):
        assert pushdown_limit("SELECT 1", None) == "SELECT 1"

    def test_trailing_comment_not_swallowing_limit(self):
        # ADVICE: '-- note LIMIT 10' used to swallow the appended limit
        assert pushdown_limit("SELECT 1 -- note", 10) == "SELECT 1 LIMIT 10"

    def test_existing_limit_after_comment_line(self):
        out = pushdown_limit("SELECT 1\n-- note\nLIMIT 50", 10)
        assert out == "SELECT 1\n-- note\nLIMIT 10"

    def test_dashes_inside_literal_not_treated_as_comment(self):
        out = pushdown_limit("SELECT '--x' AS v", 7)
        assert out == "SELECT '--x' AS v LIMIT 7"

    def test_semicolon_after_comment_line(self):
        # the ';' after a comment line must not re-expose the comment
        assert pushdown_limit("SELECT 1 -- note\n;", 10) == "SELECT 1 LIMIT 10"


class TestQuery:
    def test_envelope(self, service):
        out = service.query("SELECT custkey, name FROM customer_m ORDER BY custkey", limit=3)
        assert out["columns"] == ["custkey", "name"]
        assert len(out["data"]) == 3
        assert out["dtypes"]["custkey"] == "bigint"

    def test_timestamp_format(self, service):
        out = service.query("SELECT orderdate FROM orders_m ORDER BY orderkey LIMIT 1")
        # util.py:284-305: '%Y-%m-%d %H:%M:%S.%f'
        assert len(out["data"][0][0]) == 26

    def test_dry_run_returns_none(self, service):
        assert service.query("SELECT custkey FROM customer_m", dry_run=True) is None

    def test_dry_run_invalid_raises(self, service):
        with pytest.raises(Exception):
            service.query("SELECT missing_col FROM customer_m", dry_run=True)


class TestValidate:
    def test_valid_column(self, service):
        assert service.validate_column_is_valid("customer_m", "custkey")

    def test_invalid_column(self, service):
        assert not service.validate_column_is_valid("customer_m", "nope")


class TestMetadata:
    def test_tables(self, service):
        t = {x["name"]: x for x in service.tables()}
        assert "customer_m" in t
        names = [c["name"] for c in t["customer_m"]["columns"]]
        assert "total_spent" in names and "nation" not in names

    def test_relationships(self, service):
        assert {r["name"] for r in service.relationships()} == {
            "NationRegion", "CustomerNation", "CustomerOrders"}


class TestFunctions:
    def test_list_contains_builtins(self, service):
        names = {f["name"] for f in service.functions()}
        assert {"sum", "date_trunc", "row_number"} <= names

    def test_types_tagged(self, service):
        by_name = {f["name"]: f["function_type"] for f in service.functions()}
        assert by_name["sum"] == "aggregate"
        assert by_name["row_number"] == "window"

    def test_describe(self, service):
        spec = service.function("date_trunc")
        assert spec and spec["description"]

    def test_declare_and_call(self, service, spark):
        from wren_engine_spark.functions.catalog import FunctionSpec

        service.catalog.declare(
            FunctionSpec("scalar", "wren_double_it", "bigint", ["x"], ["bigint"]),
            impl=lambda x: None if x is None else 2 * x,
        )
        assert spark.sql("SELECT wren_double_it(21) AS v").collect()[0].v == 42
        assert service.function("wren_double_it")["return_type"] == "bigint"

    def test_load_csv(self, service):
        n = service.catalog.load_csv(
            "function_type,name,return_type,param_names,param_types,description\n"
            "scalar,my_remote_fn,double,x,double,remote thing\n"
        )
        assert n == 1
        assert service.function("my_remote_fn")["description"] == "remote thing"


class TestModelSubstitute:
    # ibis-server/app/mdl/substitute.py parity
    def test_substitute(self, service):
        out = service.model_substitute("SELECT * FROM customer JOIN orders ON 1=1")
        assert "`customer_m`" in out and "`orders_m`" in out

    def test_no_partial_match(self, service):
        out = service.model_substitute("SELECT customer_id FROM customer_tbl")
        assert "`customer_m`" not in out


class TestDryPlanTwin:
    def test_dry_plan_executes_identically(self, service, spark):
        q = "SELECT custkey, total_spent, nation_name FROM customer_m"
        a = sorted(map(tuple, service.engine.sql(q).collect()))
        b = sorted(map(tuple, spark.sql(service.dry_plan(q)).collect()))
        assert a == b

    def test_duckdb_dialect_executes_in_duckdb(self, service):
        # the duckdb-rendered dry-plan is directly runnable there
        # (reference transpile parity, rewriter.py:90-104): same rows as
        # the Spark semantic path
        import duckdb

        q = "SELECT custkey, total_spent, nation_name FROM customer_m"
        spark_rows = sorted(
            (r[0], round(r[1] or 0.0, 6), r[2])
            for r in service.engine.sql(q).collect()
        )
        text = service.dry_plan(q, dialect="duckdb")
        assert "`" not in text and "read_parquet(" in text
        duck_rows = sorted(
            (r[0], round(r[1] or 0.0, 6), r[2])
            for r in duckdb.sql(text).fetchall()
        )
        assert spark_rows == duck_rows

    def test_postgres_dialect_requotes(self, service):
        text = service.dry_plan(
            "SELECT custkey FROM customer_m WHERE name <> 'keep`tick'",
            dialect="postgres",
        )
        assert '"customer_m"' in text
        assert "parquet.`" not in text
        assert "'keep`tick'" in text  # literal untouched

    def test_unknown_dialect_rejected(self, service):
        with pytest.raises(ValueError, match="unsupported dialect"):
            service.dry_plan("SELECT 1", dialect="oracle9i")

    @pytest.mark.parametrize(
        "dialect,expect,forbid",
        [
            # trino: ANSI quotes, instr -> strpos (same arg order), nvl folds
            ("trino", ['"customer_m"', "strpos(", "coalesce("], ["`", "nvl("]),
            # snowflake: NVL/TRY_CAST are native; Snowflake has no INSTR
            # so the renderer swaps to charindex(sub, str) arg order
            ("snowflake", ['"customer_m"', "charindex('a', name)", "nvl("],
             ["`", "instr("]),
            # bigquery: backtick identifiers preserved, nvl -> ifnull,
            # try_cast -> safe_cast, instr -> strpos
            ("bigquery", ["`customer_m`", "strpos(", "ifnull("], ['"customer_m"']),
        ],
    )
    def test_extended_dialect_rendering(self, service, dialect, expect, forbid):
        """Dialect-matrix breadth (reference: rewriter.py:90-104 renders
        ~15 sqlglot dialects). The textual renderer covers the quoting +
        function-spelling deltas for trino/snowflake/bigquery; when
        sqlglot is installed it takes over with full-fidelity transpile
        (separate test below)."""
        q = ("SELECT custkey, instr(name, 'a') AS pos, nvl(name, 'x') AS nm "
             "FROM customer_m WHERE name <> 'keep`tick'")
        text = service.dry_plan(q, dialect=dialect)
        for s in expect:
            assert s in text, (dialect, s, text)
        for s in forbid:
            # literals are exempt from the quoting checks
            assert s not in text.replace("'keep`tick'", ""), (dialect, s, text)
        assert "'keep`tick'" in text  # literal content never rewritten

    def test_snowflake_instr_swap_edge_cases(self):
        from wren_engine_spark.plans.dialect import _swap_two_arg_call as sw

        # nested calls: inner swaps too, outer args preserved
        assert (
            sw("SELECT instr(instr(x, y), z)", "instr", "charindex")
            == "SELECT charindex(z, charindex(y, x))"
        )
        # commas/parens inside literals must not split arguments
        assert (
            sw("SELECT instr(name, 'a,(b)')", "instr", "charindex")
            == "SELECT charindex('a,(b)', name)"
        )
        # non-2-arity left untouched (Spark instr is 2-arg; defensive)
        assert sw("SELECT instr(a, b, c)", "instr", "charindex") == (
            "SELECT instr(a, b, c)"
        )
        # occurrences inside literals untouched
        assert sw("SELECT 'instr(a, b)'", "instr", "charindex") == (
            "SELECT 'instr(a, b)'"
        )

    def test_sqlglot_transpile_when_available(self, service):
        pytest.importorskip("sqlglot")
        for dialect in ("trino", "snowflake", "bigquery"):
            text = service.dry_plan(
                "SELECT custkey FROM customer_m", dialect=dialect
            )
            assert "customer_m" in text


class TestCache:
    def test_query_cache_roundtrip(self, spark):
        svc = SemanticService(deploy(spark, SF_DIR))
        q = "SELECT custkey FROM customer_m ORDER BY custkey LIMIT 5"
        first = svc.query(q)
        assert "cached" not in first
        second = svc.query(q)
        assert second["cached"] is True
        assert sorted(map(tuple, second["data"])) == sorted(map(tuple, first["data"]))


def _rc_manifest(rls: bool = False) -> dict:
    """Two models over copied sf0.001 files; ``rls`` filters rc_nation
    by the ``rk`` session property."""
    nation = {
        "name": "rc_nation",
        "tableReference": "nation",
        "primaryKey": "nationkey",
        "columns": [
            {"name": "nationkey", "type": "integer", "expression": "n_nationkey"},
            {"name": "name", "type": "varchar", "expression": "n_name"},
            {"name": "regionkey", "type": "integer", "expression": "n_regionkey"},
        ],
    }
    if rls:
        nation["rowLevelAccessControls"] = [
            {"name": "by_region", "condition": "regionkey = @rk",
             "requiredProperties": [{"name": "rk", "required": True}]}
        ]
    region = {
        "name": "rc_region",
        "tableReference": "region",
        "primaryKey": "regionkey",
        "columns": [
            {"name": "regionkey", "type": "integer", "expression": "r_regionkey"},
            {"name": "name", "type": "varchar", "expression": "r_name"},
        ],
    }
    return {"catalog": "wren", "schema": "public", "models": [nation, region]}


def _rc_service(spark, tmp_path, manifest=None, properties=None, sources=None):
    """A service over private copies of the nation/region files."""
    import shutil

    from wren_engine_spark.engine import SemanticEngine
    from wren_engine_spark.mdl.manifest import Manifest
    from wren_engine_spark.sources.registry import SourceRegistry

    for t in ("nation", "region"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    sources = sources or SourceRegistry(spark).add_directory(str(tmp_path))
    eng = SemanticEngine(spark, Manifest.from_dict(manifest or _rc_manifest()), sources)
    return SemanticService(eng.deploy(properties or {}))


def _with_job_ids(spark, fn):
    """``fn()`` run under a fresh Spark job group in its own thread;
    returns (result, ids of the jobs that group started)."""
    import threading
    import uuid

    sc = spark.sparkContext
    group = f"rc-{uuid.uuid4().hex[:8]}"
    out = []

    def run():
        sc.setJobGroup(group, "result cache test")
        out.append(fn())

    t = threading.Thread(target=run)
    t.start()
    t.join()
    return out[0], list(sc.statusTracker().getJobIdsForGroup(group))


_RC_Q = "SELECT nationkey, name FROM rc_nation ORDER BY nationkey LIMIT 7"


class TestResultCache:
    def test_hit_returns_same_rows_and_starts_no_job(self, spark, tmp_path):
        svc = _rc_service(spark, tmp_path)
        first, miss_jobs = _with_job_ids(spark, lambda: svc.query(_RC_Q))
        second, hit_jobs = _with_job_ids(spark, lambda: svc.query(_RC_Q))
        assert miss_jobs, "the miss must execute (the probe sees its jobs)"
        assert hit_jobs == []
        assert "cached" not in first and second["cached"] is True
        assert second["data"] == first["data"] and len(first["data"]) == 7
        assert second["columns"] == first["columns"]
        assert second["dtypes"] == first["dtypes"]

    def test_touched_source_file_misses(self, spark, tmp_path):
        import os

        svc = _rc_service(spark, tmp_path)
        first = svc.query(_RC_Q)
        assert svc.query(_RC_Q)["cached"] is True
        src = tmp_path / "nation.parquet"
        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
        after = svc.query(_RC_Q)
        assert "cached" not in after
        uncached = to_json(svc.engine.sql(_RC_Q))
        assert after["data"] == uncached["data"] == first["data"]
        assert svc.query(_RC_Q)["cached"] is True  # re-stored under the new token

    def test_redeploy_with_new_rls_properties_misses(self, spark, tmp_path):
        svc = _rc_service(spark, tmp_path, manifest=_rc_manifest(rls=True),
                          properties={"rk": "1"})
        q = "SELECT nationkey, regionkey FROM rc_nation ORDER BY nationkey"
        one = svc.query(q)
        assert svc.query(q)["cached"] is True
        assert {r[1] for r in one["data"]} == {1}
        svc.engine.deploy({"rk": "2"})
        two = svc.query(q)
        assert "cached" not in two
        assert {r[1] for r in two["data"]} == {2}
        assert two["data"] != one["data"]

    @pytest.mark.parametrize("q", [
        "SELECT nationkey, rand() AS r FROM rc_nation ORDER BY nationkey LIMIT 3",
        "SELECT current_date() AS d, COUNT(*) AS n FROM rc_nation",
    ])
    def test_time_and_random_queries_never_cached(self, spark, tmp_path, q):
        svc = _rc_service(spark, tmp_path)
        for _ in range(3):
            assert "cached" not in svc.query(q)
        stats = svc.cache_stats()
        assert (stats["bypasses"], stats["misses"], stats["entries"]) == (3, 0, 0)

    def test_ref_sql_and_dataframe_models_never_cached(self, spark, tmp_path):
        from wren_engine_spark.sources.registry import SourceRegistry

        man = _rc_manifest()
        man["models"].append({
            "name": "rc_ref",
            "refSql": "SELECT 1 AS k",
            "columns": [{"name": "k", "type": "integer", "expression": "k"}],
        })
        frame = spark.createDataFrame([(1, "x")], "r_regionkey INT, r_name STRING")
        sources = (SourceRegistry(spark).add_directory(str(tmp_path))
                   .add_dataframe("region", frame))
        for svc in (_rc_service(spark, tmp_path, manifest=man),
                    _rc_service(spark, tmp_path, sources=sources)):
            assert svc.engine.source_paths is None
            for _ in range(2):
                assert "cached" not in svc.query(_RC_Q)
            assert svc.cache_stats()["bypasses"] == 2
            assert svc.cache_stats()["entries"] == 0

    def test_reads_around_the_models_never_cached(self, spark, tmp_path):
        """A temp view or file path named next to the models is not
        covered by the model tokens, so such a query is never stored; a
        query that reads no data at all is."""
        svc = _rc_service(spark, tmp_path)
        spark.createDataFrame([(0, "a")], "k INT, tag STRING").createOrReplaceTempView("rc_side")
        around = [
            "SELECT n.nationkey, s.tag FROM rc_nation n JOIN rc_side s "
            "ON n.nationkey = s.k ORDER BY n.nationkey",
            f"SELECT COUNT(*) AS n FROM parquet.`{SF_DIR}/region.parquet`",
        ]
        for q in around + around:
            assert "cached" not in svc.query(q)
        svc.query("SELECT 1 AS one")
        assert svc.query("SELECT 1 AS one")["cached"] is True
        stats = svc.cache_stats()
        assert (stats["bypasses"], stats["entries"]) == (4, 1)

    def test_mutating_a_returned_envelope_does_not_change_the_next_hit(
        self, spark, tmp_path
    ):
        svc = _rc_service(spark, tmp_path)
        q = ("SELECT nationkey, array(nationkey, regionkey) AS a FROM rc_nation "
             "ORDER BY nationkey LIMIT 3")
        first = svc.query(q)
        want = copy.deepcopy({**first, "cached": True})
        first["data"][0][1].append(99)
        first["data"].pop()
        hit = svc.query(q)
        assert hit == want
        hit["data"][0][0] = -1
        hit["data"][1][1].clear()
        hit["columns"].append("zz")
        hit["dtypes"]["zz"] = "int"
        assert svc.query(q) == want

    def test_over_budget_result_returned_but_not_stored(
        self, spark, tmp_path, monkeypatch
    ):
        from wren_engine_spark import serving

        monkeypatch.setattr(serving, "_RESULT_CACHE_CELLS", 10)
        svc = _rc_service(spark, tmp_path)
        big = svc.query(_RC_Q)  # 7 rows x 2 columns = 14 cells
        assert len(big["data"]) == 7
        assert svc.cache_stats()["entries"] == 0
        assert "cached" not in svc.query(_RC_Q)
        small = "SELECT nationkey FROM rc_nation ORDER BY nationkey LIMIT 4"
        svc.query(small)
        assert svc.query(small)["cached"] is True

    def test_257th_entry_evicts_the_oldest(self):
        from wren_engine_spark.serving import ResultCache

        rc = ResultCache()
        env = {"columns": ["n"], "data": [[0]], "dtypes": {"n": "int"}}
        for i in range(257):
            rc.put((1, f"q{i}", None, None), (), env)
        assert rc.get((1, "q0", None, None), ()) is None
        assert rc.get((1, "q1", None, None), ())["cached"] is True
        assert rc.get((1, "q256", None, None), ())["cached"] is True
        stats = rc.stats()
        assert (stats["entries"], stats["evictions"], stats["cells"]) == (256, 1, 256)

    def test_concurrent_gets_and_puts_keep_counts_consistent(self):
        """16 threads (more than cores) hammer overlapping keys under a
        short switch interval; a lost update would break the cell total
        or the hit count."""
        import sys
        import threading

        from wren_engine_spark.serving import ResultCache

        rc = ResultCache()
        seen_hits = [0] * 16

        def work(t: int) -> None:
            for i in range(400):
                key = (1, f"q{(t * 7 + i) % 300}", None, None)
                if rc.get(key, ()) is not None:
                    seen_hits[t] += 1
                else:
                    rows = [[i]] * (1 + i % 5)
                    rc.put(key, (), {"columns": ["n"], "data": rows, "dtypes": {"n": "int"}})

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
            assert not any(th.is_alive() for th in threads)
        finally:
            sys.setswitchinterval(old)
        stats = rc.stats()
        assert stats["hits"] == sum(seen_hits)
        assert stats["entries"] == len(rc._entries) <= 256
        assert stats["cells"] == sum(e[3] for e in rc._entries.values())

    def test_counters_through_one_scripted_sequence(self, spark, tmp_path, monkeypatch):
        from wren_engine_spark import serving

        monkeypatch.setattr(serving, "_RESULT_CACHE_ENTRIES", 2)
        svc = _rc_service(spark, tmp_path)
        q2 = "SELECT regionkey FROM rc_region ORDER BY regionkey"  # 5 x 1
        q3 = "SELECT name FROM rc_region ORDER BY name LIMIT 2"  # 2 x 1
        svc.query(_RC_Q)  # miss, stored (14 cells)
        svc.query(_RC_Q)  # hit
        svc.query("SELECT rand() AS r FROM rc_region")  # bypass
        svc.query(_RC_Q, dry_run=True)  # not a served query: no counter
        svc.query(q2)  # miss
        svc.query(q3)  # miss; evicts _RC_Q (LRU, 2 entries)
        svc.query(_RC_Q)  # miss again
        assert svc.cache_stats() == {
            "hits": 1, "misses": 4, "bypasses": 1, "evictions": 2,
            "entries": 2, "cells": 2 + 14,
        }


class TestQueryTimeout:
    def test_fast_query_unaffected(self, service):
        out = service.query("SELECT COUNT(*) AS n FROM customer_m", timeout_s=120)
        assert out["data"][0][0] > 0

    def test_slow_query_cancelled(self, spark, service):
        import time

        from wren_engine_spark.serving import QueryTimeoutError, collect_with_timeout

        # 5-way cross join (~7.6e10 rows at sf0.001): cannot finish
        # inside the timeout even on a warm 32-core JVM
        c = spark.table("customer_m").select("custkey")
        slow = (
            c.crossJoin(c.selectExpr("custkey AS k2"))
            .crossJoin(c.selectExpr("custkey AS k3"))
            .crossJoin(c.selectExpr("custkey AS k4"))
            .crossJoin(c.selectExpr("custkey AS k5"))
            .selectExpr("SUM(custkey * k2 * k3 * k4 * k5) AS s")
        )
        t0 = time.time()
        with pytest.raises(QueryTimeoutError):
            collect_with_timeout(slow, timeout_s=2)
        assert time.time() - t0 < 30, "cancellation should be prompt"


class TestCube:
    def test_cube_view_and_cached(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import MANIFEST, deploy

        manifest = {
            **MANIFEST,
            "cubes": [
                {
                    "name": "sales_cube",
                    "baseObject": "customer_m",
                    "cached": True,
                    "measures": [
                        {"name": "n_customers", "expression": "count(*)", "type": "bigint"},
                        {"name": "total_bal", "expression": "sum(acctbal)", "type": "double"},
                    ],
                    "dimensions": [
                        {"name": "segment", "expression": "mktsegment", "type": "varchar"}
                    ],
                }
            ],
        }
        deploy(spark, SF_DIR, manifest)
        rows = spark.table("sales_cube").collect()
        assert {r.segment for r in rows} == {
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"
        }
        direct = spark.sql(
            "SELECT mktsegment, COUNT(*) n FROM customer_m GROUP BY 1"
        ).collect()
        got = {r.segment: r.n_customers for r in rows}
        assert got == {r.mktsegment: r.n for r in direct}


class TestAnalysis:
    def test_analyze_models_and_calc_fields(self, service):
        out = service.analyze(
            "SELECT name, nation_name FROM customer_m WHERE acctbal > 0"
        )
        models = {m["model"]: m for m in out["models"]}
        assert "customer_m" in models
        cust = models["customer_m"]
        assert "acctbal" in cust["columns"]
        calc = {c["name"]: c for c in cust["calculated_fields"]}
        assert "nation_name" in calc
        # the to-one calc crosses the customer->nation relationship
        rels = calc["nation_name"]["relationships"]
        assert rels and rels[0]["hops"]

    def test_analyze_untouched_model_absent(self, service):
        out = service.analyze("SELECT 1 FROM region_m")
        names = {m["model"] for m in out["models"]}
        assert "region_m" in names and "customer_m" not in names


class TestCubeDrill:
    def _deploy(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import _CUBE_MANIFEST, deploy

        return deploy(spark, SF_DIR, _CUBE_MANIFEST)

    def test_drill_matches_base_aggregation(self, spark):
        eng = self._deploy(spark)
        got = {
            r.status: (float(r.revenue_dec), r.n_orders)
            for r in eng.cube_drill(
                "orders_cube", hierarchy="order", level="status"
            ).collect()
        }
        want = {
            r.status: (float(r.rev), r.n)
            for r in spark.sql(
                "SELECT status, SUM(CAST(totalprice AS DECIMAL(38,6))) rev,"
                " COUNT(*) n FROM orders_m GROUP BY status"
            ).collect()
        }
        assert got == want

    def test_full_hierarchy_level_keeps_all_dims(self, spark):
        eng = self._deploy(spark)
        out = eng.cube_drill("orders_cube", hierarchy="order", level="priority")
        assert set(out.columns) == {
            "status", "priority", "n_orders", "revenue_dec", "avg_price"
        }

    def test_unknown_hierarchy_and_level_raise(self, spark):
        from wren_engine_spark.engine import PlanError

        eng = self._deploy(spark)
        with pytest.raises(PlanError):
            eng.cube_drill("orders_cube", hierarchy="nope", level="status")
        with pytest.raises(PlanError):
            eng.cube_drill("orders_cube", hierarchy="order", level="nope")

    def _manifest_with_measures(self, measures):
        from wren_engine_spark.queries.semantic import MANIFEST

        return {
            **MANIFEST,
            "cubes": [{
                "name": "m_cube_t",
                "baseObject": "orders_m",
                "measures": measures,
                "dimensions": [
                    {"name": "status", "expression": "status", "type": "varchar"},
                    {"name": "priority", "expression": "priority", "type": "varchar"},
                ],
                "hierarchies": {"h": ["status", "priority"]},
            }],
        }

    def test_avg_measure_drills_via_hidden_sum_count(self, spark):
        """AVG is non-distributive over the pre-agg, but the cube
        materializes hidden exact (sum, count) components at
        registration, so the drill derives the coarser average as
        sum-of-sums / sum-of-counts (round-5 verdict item 8)."""
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import deploy

        manifest = self._manifest_with_measures([
            {"name": "avg_price",
             "expression": "avg(CAST(totalprice AS DECIMAL(38,6)))",
             "type": "double"},
        ])
        eng = deploy(spark, SF_DIR, manifest)
        got = {
            r.status: r.avg_price
            for r in eng.cube_drill("m_cube_t", hierarchy="h", level="status").collect()
        }
        want = {
            r.status: float(r.a)
            for r in spark.sql(
                "SELECT status, CAST(SUM(CAST(totalprice AS DECIMAL(38,6)))"
                " AS DOUBLE) / COUNT(totalprice) AS a"
                " FROM orders_m GROUP BY status"
            ).collect()
        }
        assert got == want
        # hidden components never leak into the registered cube VIEW
        assert set(spark.table("m_cube_t").columns) == {
            "status", "priority", "avg_price"
        }

    def test_nested_and_whitespace_measures_drill(self, spark):
        """What reference MDLs actually contain: CASE WHEN inside the
        aggregate, parens in string literals, leading whitespace."""
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import deploy

        manifest = self._manifest_with_measures([
            {"name": "open_rev",
             "expression": (
                 "  SUM( CASE WHEN status IN ('O', '(x)') THEN"
                 " CAST(totalprice AS DECIMAL(38,6)) ELSE 0 END )  "
             ),
             "type": "decimal"},
        ])
        eng = deploy(spark, SF_DIR, manifest)
        got = {
            r.status: float(r.open_rev)
            for r in eng.cube_drill("m_cube_t", hierarchy="h", level="status").collect()
        }
        want = {
            r.status: float(r.v)
            for r in spark.sql(
                "SELECT status, SUM(CASE WHEN status IN ('O', '(x)') THEN"
                " CAST(totalprice AS DECIMAL(38,6)) ELSE 0 END) v"
                " FROM orders_m GROUP BY status"
            ).collect()
        }
        assert got == want

    def test_compound_measure_raises_not_silently_wrong(self, spark):
        """The round-5 advisor's case: 'SUM(a)/COUNT(*)' has text head
        SUM but re-aggregating the pre-agg ratio column as a plain sum
        answers WRONG — the guard must raise."""
        from tests.conftest import SF_DIR
        from wren_engine_spark.engine import PlanError
        from wren_engine_spark.queries.semantic import deploy

        manifest = self._manifest_with_measures([
            {"name": "ratio",
             "expression": "SUM(totalprice)/COUNT(*)", "type": "double"},
        ])
        eng = deploy(spark, SF_DIR, manifest)
        with pytest.raises(PlanError, match="single top-level aggregate"):
            eng.cube_drill("m_cube_t", hierarchy="h", level="status")

    def test_distinct_and_avg_distinct_measures_raise(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.engine import PlanError
        from wren_engine_spark.queries.semantic import deploy

        for expr in ("COUNT(DISTINCT custkey)", "avg(DISTINCT totalprice)"):
            manifest = self._manifest_with_measures([
                {"name": "m", "expression": expr, "type": "double"},
            ])
            eng = deploy(spark, SF_DIR, manifest)
            with pytest.raises(PlanError):
                eng.cube_drill("m_cube_t", hierarchy="h", level="status")


class TestCubeRefresh:
    def test_refresh_picks_up_new_base_state(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.queries.semantic import MANIFEST, deploy

        manifest = {
            **MANIFEST,
            "cubes": [{
                "name": "refresh_cube_t",
                "baseObject": "customer_m",
                "cached": True,
                "measures": [{"name": "n", "expression": "count(*)", "type": "bigint"}],
                "dimensions": [{"name": "segment", "expression": "mktsegment",
                                "type": "varchar"}],
            }],
        }
        eng = deploy(spark, SF_DIR, manifest)
        before = spark.table("refresh_cube_t").agg(F.sum("n")).collect()[0][0]
        # shrink the base model's view, then refresh the materialization
        spark.table("customer_m").filter(F.col("acctbal") > 0).createOrReplaceTempView(
            "customer_m"
        )
        eng.refresh_cube("refresh_cube_t")
        after = spark.table("refresh_cube_t").agg(F.sum("n")).collect()[0][0]
        assert after < before

    def test_unknown_cube_raises(self, spark):
        from tests.conftest import SF_DIR
        from wren_engine_spark.engine import PlanError
        from wren_engine_spark.queries.semantic import deploy

        eng = deploy(spark, SF_DIR, {"catalog": "t", "schema": "t", "models": [{
            "name": "m_one", "tableReference": "region",
            "columns": [{"name": "k", "type": "int", "expression": "r_regionkey"}]}]})
        with pytest.raises(PlanError):
            eng.refresh_cube("nope")


class TestMetadataExtras:
    def test_constraints_pk_and_fk(self, service):
        cons = service.constraints()
        by_type = {}
        for c in cons:
            by_type.setdefault(c["constraintType"], []).append(c)
        pk_tables = {c["constraintTable"] for c in by_type.get("PRIMARY KEY", [])}
        assert "customer_m" in pk_tables
        fks = by_type.get("FOREIGN KEY", [])
        assert any(
            c["constraintTable"] == "customer_m"
            and c["constraintColumn"] == "custkey"
            and c["constraintedTable"] == "orders_m"
            for c in fks
        )

    def test_version(self, service):
        assert service.version().startswith("spark ")

    def test_knowledge_shape(self, service):
        k = service.knowledge()
        assert any("Spark SQL" in r for r in k["rules"])
        models = {m["model"]: m for m in k["schema"]["models"]}
        assert "custkey" in models["customer_m"]["columns"]
        assert k["schema"]["relationships"]
