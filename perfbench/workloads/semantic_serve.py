"""semantic_serve: two closed-loop clients calling ``SemanticService.query``.

The default manifest (``queries/semantic.py``) is deployed over sf0.01.
Requests come from a seeded template mix: to-one and two-hop calculated
fields, to-many aggregated fields, the ``segment_value`` view, ad-hoc
joins with GROUP BY across models, and per-request timezones. Result
sizes run from 5 rows to 10k rows through the ``limit`` argument. About
half the requests repeat an earlier text (dashboard polling); the rest
carry fresh literals. Every template with a row limit has a total
ORDER BY, so the rows a limit keeps are determined.

Each result envelope is checked against a DuckDB query over the same
parquet files that follows the registry's determinism rules (exact
decimal sums cast back to double, identical aliases).
"""

from __future__ import annotations

import random
import threading
import time
from dataclasses import dataclass

import datagen
import harness
from tracing import mean, med

SF = 0.01
DATA_SEED = 42
N_CLIENTS = 2
STREAM_LEN = 20_000
# page sizes of the hot (dashboard) requests, fixed so the repeat mix
# does not depend on the seed
HOT_LIMITS = {"calc_to_one": 1000, "two_hop": 100, "to_many": 20, "timezone": 5}
N_ORDERS = int(1_500_000 * SF)
N_CUSTOMERS = int(150_000 * SF)
# fresh requests draw page sizes from a shuffled deck, so the share of
# each size is exact over every ten fresh requests
LIMIT_DECK = (5, 5, 5, 20, 20, 100, 100, 1000, 1000, 10_000)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ZONES = ("Asia/Tokyo", "America/New_York", "Europe/Berlin", "UTC")
_DEC = "CAST(SUM(CAST({x} AS DECIMAL(38,6))) AS DOUBLE)"


@dataclass(frozen=True)
class Request:
    template: str
    sql: str
    limit: int | None
    timezone: str | None
    reference_sql: str

    @property
    def key(self) -> tuple:
        return (self.sql, self.limit, self.timezone)


def _ref_limit(limit: int | None) -> str:
    return "" if limit is None else f" LIMIT {limit}"


TEMPLATES = ("calc_to_one", "two_hop", "to_many", "view", "join_nation", "join_region",
             "timezone")


def make_request(rng: random.Random, t: str | None = None, limit: int | None = None) -> Request:
    """One request of template ``t`` (default: a random one) with fresh
    literals; ``limit`` (default: drawn from ``LIMIT_DECK``) caps the
    rows of the templates that list rows."""
    t = t or rng.choice(TEMPLATES)
    if t in ("calc_to_one", "timezone"):
        limit = min(limit or rng.choice(LIMIT_DECK), N_ORDERS)
        lo = rng.randrange(0, N_ORDERS - limit + 1)
        if t == "calc_to_one":
            sql = ("SELECT orderkey, customer_name, customer_segment FROM orders_m "
                   f"WHERE orderkey >= {lo} ORDER BY orderkey")
            ref = ("SELECT o_orderkey AS orderkey, c_name AS customer_name, "
                   "c_mktsegment AS customer_segment FROM orders "
                   f"LEFT JOIN customer ON o_custkey = c_custkey WHERE o_orderkey >= {lo} "
                   "ORDER BY orderkey")
            return Request(t, sql, limit, None, ref + _ref_limit(limit))
        # a TIMESTAMP (instant) column under the request zone: the wall
        # clock interpreted in that zone and rendered back in it
        sql = ("SELECT orderkey, CAST(orderdate AS TIMESTAMP) AS order_ts FROM orders_m "
               f"WHERE orderkey >= {lo} ORDER BY orderkey")
        ref = ("SELECT o_orderkey AS orderkey, o_orderdate AS order_ts FROM orders "
               f"WHERE o_orderkey >= {lo} ORDER BY orderkey")
        return Request(t, sql, limit, rng.choice(ZONES), ref + _ref_limit(limit))
    if t == "two_hop":
        limit = min(limit or rng.choice(LIMIT_DECK), N_CUSTOMERS)
        bal = round(rng.uniform(-1000.0, 9000.0), 2)
        sql = ("SELECT custkey, nation_name, region_name FROM customer_m "
               f"WHERE acctbal > {bal} ORDER BY custkey")
        ref = ("SELECT c_custkey AS custkey, n_name AS nation_name, r_name AS region_name "
               "FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey "
               f"LEFT JOIN region ON n_regionkey = r_regionkey WHERE c_acctbal > {bal} "
               "ORDER BY custkey")
        return Request(t, sql, limit, None, ref + _ref_limit(limit))
    if t == "to_many":
        limit = min(limit or rng.choice(LIMIT_DECK), N_CUSTOMERS)
        seg = rng.choice(SEGMENTS)
        sql = ("SELECT custkey, total_spent, order_count FROM customer_m "
               f"WHERE mktsegment = '{seg}' ORDER BY custkey")
        ref = ("SELECT c.c_custkey AS custkey, agg.total_spent, agg.order_count FROM customer c "
               "LEFT JOIN (SELECT o_custkey, "
               f"{_DEC.format(x='o_totalprice')} AS total_spent, "
               "COUNT(o_orderkey) AS order_count FROM orders GROUP BY o_custkey) agg "
               f"ON c.c_custkey = agg.o_custkey WHERE c.c_mktsegment = '{seg}' "
               "ORDER BY custkey")
        return Request(t, sql, limit, None, ref + _ref_limit(limit))
    if t == "view":
        k = rng.randrange(0, 320)
        sql = ("SELECT mktsegment, n_customers, total_balance FROM segment_value "
               f"WHERE n_customers >= {k} ORDER BY mktsegment")
        ref = ("SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_customers, "
               f"{_DEC.format(x='c_acctbal')} AS total_balance FROM customer "
               f"GROUP BY c_mktsegment HAVING COUNT(*) >= {k} ORDER BY mktsegment")
        return Request(t, sql, None, None, ref)
    if t == "join_nation":
        day = rng.randrange(0, 2300)
        ts = f"TIMESTAMP '{_day(day)}'"
        sql = ("SELECT n.name AS nation_name, "
               f"{_DEC.format(x='o.totalprice')} AS revenue, COUNT(*) AS n_orders "
               "FROM orders_m o JOIN customer_m c ON o.custkey = c.custkey "
               "JOIN nation_m n ON c.nation_key = n.nationkey "
               f"WHERE o.orderdate >= {ts} GROUP BY n.name ORDER BY nation_name")
        ref = ("SELECT n_name AS nation_name, "
               f"{_DEC.format(x='o_totalprice')} AS revenue, COUNT(*) AS n_orders "
               "FROM orders JOIN customer ON o_custkey = c_custkey "
               "JOIN nation ON c_nationkey = n_nationkey "
               f"WHERE o_orderdate >= {ts} GROUP BY n_name ORDER BY nation_name")
        return Request(t, sql, None, None, ref)
    price = round(rng.uniform(1000.0, 450_000.0), 2)
    sql = ("SELECT c.region_name AS region_name, c.mktsegment AS mktsegment, "
           "COUNT(*) AS n_orders FROM orders_m o JOIN customer_m c ON o.custkey = c.custkey "
           f"WHERE o.totalprice > {price} GROUP BY c.region_name, c.mktsegment "
           "ORDER BY region_name, mktsegment")
    ref = ("SELECT r_name AS region_name, c_mktsegment AS mktsegment, COUNT(*) AS n_orders "
           "FROM orders JOIN customer ON o_custkey = c_custkey "
           "LEFT JOIN nation ON c_nationkey = n_nationkey "
           "LEFT JOIN region ON n_regionkey = r_regionkey "
           f"WHERE o_totalprice > {price} GROUP BY r_name, c_mktsegment "
           "ORDER BY region_name, mktsegment")
    return Request("join_region", sql, None, None, ref)


def _day(offset: int) -> str:
    import datetime as dt

    return (dt.date(1995, 1, 1) + dt.timedelta(days=offset)).isoformat()


def hot_pool(seed: int) -> list[Request]:
    """The dashboard requests that recur (polling): one per template,
    seeded literals, a fixed page size per template."""
    rng = random.Random(seed ^ 0xDA5B)
    return [make_request(rng, t, limit=HOT_LIMITS.get(t)) for t in TEMPLATES]


def request_stream(seed: int, n: int = STREAM_LEN) -> list[Request]:
    """The seeded stream, in rounds: each template once with fresh
    literals and each hot request once, interleaved, in seeded order.
    Half the texts repeat, and every prefix of the stream keeps close
    to the same mix, so a short window measures the same mix as a long
    one."""
    rng = random.Random(seed)
    pool = hot_pool(seed)
    deck: list[int] = []
    out: list[Request] = []
    while len(out) < n:
        fresh = []
        for t in rng.sample(TEMPLATES, len(TEMPLATES)):
            limit = None
            if t in HOT_LIMITS:  # the templates that list rows
                if not deck:
                    deck = rng.sample(LIMIT_DECK, len(LIMIT_DECK))
                limit = deck.pop()
            fresh.append(make_request(rng, t, limit=limit))
        for f, h in zip(fresh, rng.sample(pool, len(pool))):
            out += [f, h]
    return out[:n]


# ------------------------------------------------------------------ phases


@dataclass
class Inputs:
    sf_dir: str
    stream: list[Request]
    warmup: list[Request]


def make_inputs(seed: int, cache_root: str, data_dir: str) -> Inputs:
    """The stream, and the hot requests as warm-up: the dashboards were
    open before the window starts, so every repeat in it is a repeat."""
    sf_dir = datagen.ensure_tpch(cache_root, SF, DATA_SEED)
    return Inputs(sf_dir, request_stream(seed), hot_pool(seed))


class State:
    def __init__(self, service):
        self.service = service
        self.seen_plans: dict[tuple, object] = {}
        self.sql_repeats = 0
        self.sql_hits = 0
        self.miss_spans: list[dict] = []
        self.lock = threading.Lock()


def setup(spark, inputs: Inputs, paths: dict, tracer, rep: int) -> State:
    """Deploy the default manifest and open a service on it."""
    from wren_engine_spark.engine import SemanticEngine
    from wren_engine_spark.mdl.manifest import Manifest
    from wren_engine_spark.queries.semantic import MANIFEST
    from wren_engine_spark.serving import SemanticService
    from wren_engine_spark.sources.registry import SourceRegistry

    with tracer.span("mdl.deploy"):
        sources = SourceRegistry(spark).add_directory(inputs.sf_dir)
        eng = SemanticEngine(spark, Manifest.from_dict(MANIFEST), sources)
        eng.deploy({})
    return State(SemanticService(eng))


def prepare(spark, inputs: Inputs, state: State, tracer) -> None:
    if tracer.enabled:
        _instrument(state, tracer)
    for req in inputs.warmup:
        state.service.query(req.sql, limit=req.limit, timezone=req.timezone)


def _instrument(state: State, tracer) -> None:
    from wren_engine_spark import engine, serving

    orig_sql = engine.SemanticEngine.sql

    def sql(self, text, timezone=None, *args, **kwargs):
        with tracer.span("engine.sql") as sp:
            df = orig_sql(self, text, timezone, *args, **kwargs)
        t0 = time.perf_counter()
        key = (text, timezone)
        with state.lock:
            if timezone is None and not kwargs.get("finalize"):
                prev = state.seen_plans.get(key)
                if prev is not None:
                    state.sql_repeats += 1
                    state.sql_hits += prev is df
                else:
                    state.miss_spans.append(sp)
                state.seen_plans[key] = df
            else:
                state.miss_spans.append(sp)
        tracer.charge(time.perf_counter() - t0)
        return df

    tracer.replace(engine.SemanticEngine, "sql", sql)
    tracer.wrap(serving, "collect_with_timeout", "serving.collect",
                after=lambda args, rows: tracer.record_phases(args[0]))
    tracer.wrap(serving, "to_json", "serving.to_json")


def run(spark, inputs: Inputs, state: State, tracer, seconds: float) -> harness.Outcome:
    lock = threading.Lock()
    cursor = iter(enumerate(inputs.stream))
    executed = {r.key for r in inputs.warmup}
    ops: list[harness.Op] = []
    errors: list[BaseException] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client() -> None:
        try:
            while time.perf_counter() < deadline:
                with lock:
                    i, req = next(cursor)
                    repeat = req.key in executed
                    executed.add(req.key)
                op = harness.Op("repeat" if repeat else "fresh", 0.0,
                                attrs={"i": i, "template": req.template})
                with tracer.op(f"op{i}", req.template):
                    t0 = time.perf_counter()
                    try:
                        env = state.service.query(req.sql, limit=req.limit,
                                                  timezone=req.timezone)
                    except Exception as e:  # noqa: BLE001 - a failed request is data
                        env = None
                        op.ok, op.error = False, f"{type(e).__name__}: {e}"[:300]
                    op.latency_s = time.perf_counter() - t0
                if env is not None:
                    op.attrs["digest"] = harness.digest(
                        harness.canonical(env["columns"], env["data"]))
                    op.attrs["rows"] = len(env["data"])
                with lock:
                    ops.append(op)
        except BaseException as e:  # noqa: BLE001 - re-raised in the main thread
            errors.append(e)

    threads = [threading.Thread(target=client, name=f"client{c}") for c in range(N_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    window = time.perf_counter() - start
    if errors:
        raise errors[0]
    ops.sort(key=lambda o: o.attrs["i"])
    out = harness.Outcome(ops, window)
    for kind in ("fresh", "repeat"):
        lat = [o.latency_s * 1000.0 for o in ops if o.kind == kind]
        if lat:
            out.extra[f"{kind}_p50_ms"] = (harness.median(lat), "ms")
    return out


def verify(spark, inputs: Inputs, state: State, outcome: harness.Outcome) -> None:
    """Compare every envelope with its DuckDB reference (one query per
    distinct request)."""
    keys: dict[tuple, str] = {}
    for op in outcome.ops:
        if op.ok:
            req = inputs.stream[op.attrs["i"]]
            keys.setdefault(req.key, req.reference_sql)
    views = {t: f"{inputs.sf_dir}/{t}.parquet" for t in ("region", "nation", "customer", "orders")}
    refs = dict(zip(keys, harness.duckdb_references(views, list(keys.values()))))
    for op in outcome.ops:
        req = inputs.stream[op.attrs["i"]]
        if op.ok and op.attrs["digest"] != refs[req.key]:
            op.ok, op.error = False, "result differs from the reference"
        if not op.ok:
            outcome.failures.append(f"op{op.attrs['i']} ({req.template}): {op.error}")


def layer_metrics(tracer, state: State, outcome: harness.Outcome) -> dict[str, tuple[float, str]]:
    st = tracer.self_times()
    rows = [o.attrs.get("rows", 0) for o in outcome.ops]
    # engine.sql time is taken over the window's calls that had to plan
    # (first sight of a text, or a timezone'd request); hits cost
    # microseconds
    plan_ms = [(sp["end"] - sp["start"]) * 1000.0 for sp in state.miss_spans
               if sp["op"] is not None]
    return {
        "mdl.deploy_ms": (med(st.get("mdl.deploy", [])), "ms"),
        "engine.sql_ms": (med(plan_ms), "ms"),
        "engine.plan_cache_hit_ratio": (
            state.sql_hits / state.sql_repeats if state.sql_repeats else 0.0, "ratio"),
        "serving.collect_ms": (med(st.get("serving.collect", [])), "ms"),
        "serving.to_json_ms": (med(st.get("serving.to_json", [])), "ms"),
        "serving.rows_out": (mean(rows), "rows"),
    }
