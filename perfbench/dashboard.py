"""``dashboard`` workload: one client refreshing a panel set, closed loop.

Inputs (all from the seed): a ``trips`` fact table shaped like the
reference's ``1k_trips`` example (event time, uuid key, city id, enum
status, float fare, driver uuid) plus one int array column, and a
``cities`` dimension table. The client sends a fixed rotation of AQL
JSON and SQL requests, each one only after the previous reply, the way
a dashboard panel waits for its ``/query`` reply. The table is small,
so driver-side work (catalog resolve, planning, Catalyst, result
shaping) dominates a request.

Every reply is checked against DuckDB over the same generated rows:
exact for counts, sums (fares are multiples of 1/4, so every sum is
exact in float64) and projections, within four relative standard
errors for ``hll()``.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np

from aresdb_spark.aql.api import execute_request
from aresdb_spark.aql.sql import execute_sql
from aresdb_spark.catalog import Catalog, TableDef
from perfbench.harness import fingerprint, no_span

SIZES = {"full": 100_000, "tiny": 4_000}
N_CITIES = 1000
# ids past the dimension table: their trips join to a NULL region
MISSING_CITY_IDS = 10
STATUSES = ("completed", "cancelled", "requested", "driver_canceled")
STATUS_P = (0.70, 0.15, 0.10, 0.05)
REGIONS = ("north", "south", "east", "west", "central", "coast",
           "hills", "lakes")
MONTH0 = datetime(2024, 1, 1)
DAYS = 30
# the planner compiles hll() to Spark's approx_count_distinct without an
# rsd argument, so its stated relative standard error is Spark's default
SPARK_APPROX_DISTINCT_RSD = 0.05
HLL_TOLERANCE = 4 * SPARK_APPROX_DISTINCT_RSD

TABLES = {
    "trips": TableDef("trips", is_fact=True, time_column="request_at",
                      primary_key=("uuid",), sort_columns=("request_at",)),
    "cities": TableDef("cities", primary_key=("id",)),
}


def _day(d: int) -> str:
    return (MONTH0 + timedelta(days=int(d))).strftime("%Y-%m-%d")


def make_trips(rng: np.random.Generator, n: int):
    """The trips columns as a pandas frame (time-sorted)."""
    import pandas as pd

    secs = np.sort(rng.integers(0, DAYS * 86400, n))
    n_drivers = max(n // 5, 10)
    tag_len = rng.integers(0, 5, n)
    tag_vals = rng.integers(0, 10, int(tag_len.sum()))
    offs = np.concatenate([[0], np.cumsum(tag_len)])
    return pd.DataFrame({
        "request_at": pd.to_datetime(np.datetime64(MONTH0, "s")
                                     + secs.astype("timedelta64[s]")),
        "uuid": [f"{i:08x}-{v:016x}" for i, v in
                 enumerate(rng.integers(0, 2**63, n))],
        "city_id": rng.integers(0, N_CITIES + MISSING_CITY_IDS,
                                n).astype(np.int32),
        "status": rng.choice(STATUSES, n, p=STATUS_P),
        "fare": (rng.integers(0, 800, n) / 4.0).astype(np.float32),
        "driver_uuid": [f"drv-{d:06d}" for d in
                        rng.integers(0, n_drivers, n)],
        "tags": [tag_vals[offs[i]:offs[i + 1]].astype(np.int32)
                 for i in range(n)],
    })


def make_cities(rng: np.random.Generator):
    import pandas as pd

    return pd.DataFrame({
        "id": np.arange(N_CITIES, dtype=np.int32),
        "name": [f"city_{i:04d}" for i in range(N_CITIES)],
        "region": rng.choice(REGIONS, N_CITIES),
    })


def write_parquet(pdf, path: str, files: int = 4) -> None:
    """Write a frame as ``files`` parquet parts under ``path`` (a
    directory, like a Spark-written table), event time as UTC micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    if "request_at" in pdf.columns:
        i = table.schema.get_field_index("request_at")
        table = table.set_column(i, "request_at", table.column(i).cast(
            pa.timestamp("us", tz="UTC")))
    if "tags" in pdf.columns:
        i = table.schema.get_field_index("tags")
        table = table.set_column(i, "tags", table.column(i).cast(
            pa.list_(pa.int32())))
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


# ---------------------------------------------------------------------------
# oracle helpers: DuckDB rows → the engine's nested result shape
# ---------------------------------------------------------------------------

def _key(v) -> str:
    """The engine's dimension-key rendering for the value types the
    requests below produce (strings, ints, integral float buckets)."""
    if v is None:
        return "NULL"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def nest(rows, n_dims: int) -> dict:
    if n_dims == 0:
        vals = list(rows[0])
        return {"value": vals[0] if len(vals) == 1 else vals}
    out: dict = {}
    for r in rows:
        node = out
        for d in r[:n_dims - 1]:
            node = node.setdefault(_key(d), {})
        m = list(r[n_dims:])
        node[_key(r[n_dims - 1])] = m[0] if len(m) == 1 else m
    return out


def _cell(v) -> str:
    if isinstance(v, float):
        return _key(v) if v.is_integer() else repr(v)
    return _key(v)


def matrix(rows, headers) -> dict:
    return {"headers": list(headers),
            "matrixData": [[_cell(v) for v in r] for r in rows]}


def approx_match(got, want, tol: float) -> bool:
    """Structural equality, with numeric leaves within a relative
    ``tol`` (used for HLL estimates)."""
    if isinstance(want, dict):
        return (isinstance(got, dict) and got.keys() == want.keys()
                and all(approx_match(got[k], want[k], tol) for k in want))
    if isinstance(want, list):
        return (isinstance(got, list) and len(got) == len(want)
                and all(approx_match(g, w, tol) for g, w in zip(got, want)))
    if isinstance(want, (int, float)) and isinstance(got, (int, float)):
        return abs(got - want) <= max(tol * abs(want), 1.0)
    return got == want


class Request:
    """One request of the rotation: how to send it and what it must
    return."""

    def __init__(self, name: str, payload, expected, sql: bool = False,
                 tol: float = 0.0, n_queries: int = 1):
        self.name = name
        self.text = payload if sql else json.dumps(payload)
        self.expected = expected
        self.sql = sql
        self.tol = tol
        self.n_queries = n_queries

    def send(self, spark, catalog, span) -> str:
        """JSON request in, JSON result out; ``span`` times the engine
        call in a traced run."""
        with span("aql.api"):
            if self.sql:
                res = execute_sql(spark, catalog, self.text)
            else:
                res = execute_request(spark, catalog, self.text)
        return json.dumps(res)

    def check(self, reply: str) -> bool:
        got = json.loads(reply)
        if self.tol:
            return approx_match(got, self.expected, self.tol)
        return got == self.expected


def build_requests(rng: np.random.Generator, con) -> list[Request]:
    """The rotation, with seed-drawn windows and thresholds, and each
    request's expected reply computed once in DuckDB."""
    table = "trips"
    d0 = int(rng.integers(0, DAYS - 7))
    fare_t = float(rng.integers(20, 120))
    tag = int(rng.integers(0, 10))
    city_t = int(rng.integers(200, 800))
    window = {"column": "request_at", "from": _day(d0),
              "to": _day(d0 + 6)}
    in_window = (f"request_at >= TIMESTAMP '{_day(d0)}' AND request_at < "
                 f"TIMESTAMP '{_day(d0 + 7)}'")

    def q(sql):
        return con.execute(sql).fetchall()

    reqs = []
    # 1. filtered count(*) by hour, time filter (3 days)
    reqs.append(Request("count_by_hour", {"queries": [{
        "table": table,
        "dimensions": [{"sqlExpression": "request_at",
                        "timeBucketizer": "hour"}],
        "measures": [{"sqlExpression": "count(*)"}],
        "rowFilters": ["status = 'completed'"],
        "timeFilter": {"column": "request_at", "from": _day(d0),
                       "to": _day(d0 + 2)}}]},
        {"results": [nest(q(f"""
            SELECT strftime(date_trunc('hour', request_at), '%Y-%m-%d %H:00'),
                   count(*) FROM {table}
            WHERE status = 'completed' AND request_at >= TIMESTAMP '{_day(d0)}'
              AND request_at < TIMESTAMP '{_day(d0 + 3)}' GROUP BY 1"""), 1)]}))
    # 2. sum with a measure-level row filter
    reqs.append(Request("sum_measure_filter", {"queries": [{
        "table": table,
        "dimensions": [{"sqlExpression": "status"}],
        "measures": [{"sqlExpression": "sum(fare)",
                      "rowFilters": [f"city_id < {city_t}"]}],
        "timeFilter": window}]},
        {"results": [nest(q(f"""
            SELECT status, sum(fare) FROM {table}
            WHERE city_id < {city_t} AND {in_window} GROUP BY 1"""), 1)]}))
    # 3. join to the dimension, grouped by a dimension column
    reqs.append(Request("join_region", {"queries": [{
        "table": table,
        "joins": [{"table": "cities", "alias": "c",
                   "conditions": ["c.id = city_id"]}],
        "dimensions": [{"sqlExpression": "c.region"}],
        "measures": [{"sqlExpression": "count(*)"},
                     {"sqlExpression": "sum(fare)"}],
        "timeFilter": window}]},
        {"results": [nest(q(f"""
            SELECT c.region, count(*), sum(t.fare) FROM {table} t
            LEFT JOIN cities c ON c.id = t.city_id
            WHERE {in_window.replace('request_at', 't.request_at')}
            GROUP BY 1"""), 1)]}))
    # 4. hll() distinct drivers
    reqs.append(Request("hll_drivers", {"queries": [{
        "table": table,
        "dimensions": [{"sqlExpression": "status"}],
        "measures": [{"sqlExpression": "hll(driver_uuid)"}],
        "timeFilter": window}]},
        {"results": [nest(q(f"""
            SELECT status, count(DISTINCT driver_uuid) FROM {table}
            WHERE {in_window} GROUP BY 1"""), 1)]},
        tol=HLL_TOLERANCE))
    # 5. non-aggregate projection, sorted, limited
    reqs.append(Request("top_fares", {"queries": [{
        "table": table,
        "dimensions": [{"sqlExpression": "uuid", "alias": "uuid"},
                       {"sqlExpression": "fare", "alias": "fare"},
                       {"sqlExpression": "city_id", "alias": "city_id"}],
        "measures": [{"sqlExpression": "1"}],
        "rowFilters": ["status = 'cancelled'"],
        "sorts": [{"sqlExpression": "fare", "order": "desc"},
                  {"sqlExpression": "uuid", "order": "asc"}],
        "limit": 20}]},
        {"results": [matrix(q(f"""
            SELECT uuid, fare, city_id FROM {table}
            WHERE status = 'cancelled'
            ORDER BY fare DESC, uuid ASC LIMIT 20"""),
            ["uuid", "fare", "city_id"])]}))
    # 6. array length / contains filters
    reqs.append(Request("array_filters", {"queries": [{
        "table": table,
        "dimensions": [{"sqlExpression": "status"}],
        "measures": [{"sqlExpression": "count(*)"}],
        "rowFilters": ["length(tags) >= 2", f"contains(tags, {tag})"]}]},
        {"results": [nest(q(f"""
            SELECT status, count(*) FROM {table}
            WHERE len(tags) >= 2 AND list_contains(tags, {tag})
            GROUP BY 1"""), 1)]}))
    # 7. numeric bucketizer
    reqs.append(Request("fare_buckets", {"queries": [{
        "table": table,
        "dimensions": [{"sqlExpression": "fare",
                        "numericBucketizer": {"bucketWidth": 25}}],
        "measures": [{"sqlExpression": "count(*)"}],
        "timeFilter": window}]},
        {"results": [nest(q(f"""
            SELECT floor(fare / 25) * 25.0, count(*) FROM {table}
            WHERE {in_window} GROUP BY 1"""), 1)]}))
    # 8. SQL through execute_sql
    reqs.append(Request("sql_status",
        f"SELECT status, count(*) AS trips, sum(fare) AS fares FROM {table} "
        f"WHERE fare >= {fare_t:g} GROUP BY status",
        nest(q(f"""SELECT status, count(*), sum(fare) FROM {table}
                   WHERE fare >= {fare_t} GROUP BY 1"""), 1), sql=True))
    # 9. one request carrying two queries
    reqs.append(Request("two_queries", {"queries": [
        {"table": table,
         "dimensions": [{"sqlExpression": "status"}],
         "measures": [{"sqlExpression": "count(*)"}],
         "timeFilter": {"column": "request_at", "from": _day(d0 + 1),
                        "to": _day(d0 + 1)}},
        {"table": table,
         "dimensions": [{"sqlExpression": "request_at",
                         "timeBucketizer": "day"}],
         "measures": [{"sqlExpression": "sum(fare)"}],
         "rowFilters": [f"city_id >= {city_t}"],
         "timeFilter": window}]},
        {"results": [
            nest(q(f"""SELECT status, count(*) FROM {table}
                WHERE request_at >= TIMESTAMP '{_day(d0 + 1)}'
                  AND request_at < TIMESTAMP '{_day(d0 + 2)}' GROUP BY 1"""), 1),
            nest(q(f"""SELECT strftime(date_trunc('day', request_at), '%Y-%m-%d'),
                       sum(fare) FROM {table}
                WHERE city_id >= {city_t} AND {in_window} GROUP BY 1"""), 1)]},
        n_queries=2))
    return reqs


class Dashboard:
    """Workload object driven by ``run.py``: ``setup`` is timed into
    ``setup_s``; each ``op`` is one request, timed JSON in to JSON out."""

    name = "dashboard"
    warmup_ops = 9
    min_ops = 9
    period_ops = 9  # the rotation of build_requests

    def __init__(self, seed: int, size: str, work):
        import duckdb

        rng = np.random.default_rng(seed)
        self.data_dir = work.sub("dashboard")
        trips = make_trips(rng, SIZES[size])
        cities = make_cities(rng)
        write_parquet(trips, os.path.join(self.data_dir, "trips.parquet"))
        write_parquet(cities, os.path.join(self.data_dir, "cities.parquet"),
                      files=1)
        self.input_sizes = (len(trips), len(cities))
        self.input_fingerprint = fingerprint(
            trips["uuid"].iloc[0], float(trips["fare"].sum()),
            list(cities["region"]))
        con = duckdb.connect()
        con.register("trips", trips)
        con.register("cities", cities)
        self.requests = build_requests(rng, con)
        con.close()
        self.catalog = None
        self.span = no_span
        self.last_error = ""
        self._next = 0

    def reset(self) -> None:
        """Between set-up repetitions: nothing on disk to undo."""

    def setup(self, spark, tracer=None) -> None:
        from perfbench.trace import TracedCatalog

        cls = TracedCatalog if tracer is not None else Catalog
        self.catalog = cls(self.data_dir, tables=dict(TABLES))
        if tracer is not None:
            self.catalog.tracer = tracer
            self.span = tracer.span
        # first touch: resolve both tables (file listing + footer read)
        for name in TABLES:
            self.catalog.load(spark, name).schema

    def op(self, spark, timer) -> tuple[int, bool, None]:
        """One request; returns (queries answered, answer correct, None:
        the latency is the timer's)."""
        req = self.requests[self._next % len(self.requests)]
        self._next += 1
        with timer:
            reply = req.send(spark, self.catalog, self.span)
        ok = req.check(reply)
        if not ok:
            self.last_error = (f"{req.name}: got {reply[:300]} want "
                               f"{json.dumps(req.expected)[:300]}")
        return req.n_queries, ok, None

    def final_checks(self, spark) -> list[str]:
        return []

    def details(self) -> dict:
        return {}

    def layer_values(self) -> dict:
        return {}
