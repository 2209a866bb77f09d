"""``ingest`` workload: one writer posting upsert batches, closed loop,
with read-your-writes probes and the lifecycle scheduler on a simulated
clock.

Inputs (all from the seed): a cold base of trips behind the initial
cutoff, a ``cities`` dimension snapshot, and a sequence of UpsertBatch
wire buffers, encoded before anything is timed. Each batch carries about
2k rows: mostly new trips at the current simulated time, about 10%
updates of earlier trips (which keep their original event time, so some
land in hot and some in the backfill queue) and about 5% late new trips
behind the initial cutoff (always the backfill queue). Once per
scheduler period a cycle also posts a small ``cities`` batch into the
dimension store.

One operation (one cycle) is: ``DataHandler.post_data`` the batch (and
the cities batch when due), then a probe ``execute_request`` that must
return the batch's newest trip with its fare, then one
``Scheduler.run_once`` at the advanced simulated clock (archiving,
backfill, snapshot, gc). The operation's latency is the data freshness,
from the start of the post until the probe has the row; the scheduler
tick is in the cycle's wall time (so in the rows-per-second figure) but
not in the freshness. Stores are single-writer, so there is one
writer. The hot/cold tables are never cached by the catalog, so this is
the workload outside the program's own cache.

The end-state audit flushes the backfill queue, then checks the trip
count and fare sum against the generator's overwrite model (late rows
included) and every ``cities`` row against its model.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np

from aresdb_spark.aql.api import execute_request
from aresdb_spark.catalog import Catalog, TableDef
from aresdb_spark.metastore import DEFAULT_TABLE_CONFIG, SchemaStore
from aresdb_spark.sources import pointer
from aresdb_spark.sources.hotcold import DimensionStore, HotColdStore
from aresdb_spark.sources.lifecycle import Scheduler, TableLifecycle
from aresdb_spark.streaming.data_handler import DataHandler
from aresdb_spark.streaming.upsert_wire import UpsertBatchBuilder
from perfbench.harness import fingerprint, no_span

# base rows, batch rows, batches encoded ahead (more than a run posts)
SIZES = {"full": (20_000, 2_000, 24), "tiny": (2_000, 200, 24)}
UPDATE_FRAC = 0.10
LATE_FRAC = 0.05
# the scheduler does its maintenance once every PERIOD cycles (see
# TABLE_CONFIG); a measured window is a whole number of periods
PERIOD = 6
CITY_BATCH = 50
N_CITIES = 200
STATUSES = ["completed", "cancelled", "requested", "driver_canceled"]
REGIONS = ["north", "south", "east", "west", "central", "coast"]
CUTOFF0 = datetime(2024, 3, 1)
BASE_DAYS = 1
STEP = timedelta(minutes=30)

TRIPS_SCHEMA = {
    "name": "trips",
    "columns": [{"name": "request_at", "type": "Uint32"},
                {"name": "trip_id", "type": "Int64"},
                {"name": "city_id", "type": "Uint16"},
                {"name": "status", "type": "SmallEnum"},
                {"name": "fare", "type": "Float32"}],
    "primaryKeyColumns": [1],
    "isFactTable": True,
    "archivingSortColumns": [0],
}
CITIES_SCHEMA = {
    "name": "cities",
    "columns": [{"name": "id", "type": "Uint16"},
                {"name": "region", "type": "SmallEnum"},
                {"name": "population", "type": "Uint32"}],
    "primaryKeyColumns": [0],
    "isFactTable": False,
}
# lifecycle cadence on the simulated clock (one cycle = STEP = 30 min;
# the scheduler first ticks at set-up, at cycle 0's time): archiving,
# backfill, snapshot and gc all fire on the ticks of cycles 6, 12, 18, ...,
# so each period of PERIOD cycles lets hot batches pile up and ends with
# the same maintenance. Backfill is timer-driven only (the size
# threshold is out of reach). gc grace is 0 so on-disk bytes do not
# depend on wall time.
TABLE_CONFIG = {
    **DEFAULT_TABLE_CONFIG,
    "archivingDelayMinutes": 120,
    "archivingIntervalMinutes": 165,
    "backfillIntervalMinutes": 180,
    "backfillThresholdInBytes": 1 << 40,
    "snapshotIntervalMinutes": 180,
    "snapshotThreshold": 1 << 40,
    "recordRetentionInDays": 0,
    "gcIntervalHours": 2.75,
    "gcGraceSeconds": 0,
}
TABLES = {
    "trips": TableDef("trips", is_fact=True, time_column="request_at",
                      primary_key=("trip_id",),
                      sort_columns=("request_at",), hotcold=True),
    "cities": TableDef("cities", primary_key=("id",), hotcold=True),
}


def _epoch(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds())


def encode_trips(rows) -> bytes:
    """rows: (epoch_s, trip_id, city_id, status_id, fare) tuples."""
    b = UpsertBatchBuilder(arrival_time=0)
    for cid, t in enumerate(("Uint32", "Int64", "Uint16", "SmallEnum",
                             "Float32")):
        b.add_column(cid, t)
    for r, row in enumerate(rows):
        b.add_row()
        for c, v in enumerate(row):
            b.set_value(r, c, v)
    return b.to_byte_array()


def encode_cities(rows) -> bytes:
    b = UpsertBatchBuilder(arrival_time=0)
    for cid, t in enumerate(("Uint16", "SmallEnum", "Uint32")):
        b.add_column(cid, t)
    for r, row in enumerate(rows):
        b.add_row()
        for c, v in enumerate(row):
            b.set_value(r, c, v)
    return b.to_byte_array()


class Generator:
    """Draws the base rows, the batches and the city rows. A trip row is
    (epoch_s, trip_id, city_id, status_id, fare); trip ids are dense."""

    def __init__(self, seed: int, size: str):
        n_base, self.batch_rows, n_batches = SIZES[size]
        rng = np.random.default_rng(seed)
        self.rng = rng
        t_lo = _epoch(CUTOFF0 - timedelta(days=BASE_DAYS))
        ts = np.sort(rng.integers(t_lo, _epoch(CUTOFF0), n_base))
        self.base = [(int(ts[i]), i, *self._attrs()) for i in range(n_base)]
        # event time by trip id: an update keeps its trip's event time
        self.event_time = [r[0] for r in self.base]
        self.cities = {i: (int(rng.integers(len(REGIONS))),
                           int(rng.integers(1_000, 5_000_000)))
                       for i in range(N_CITIES)}
        self.cities0 = dict(self.cities)
        self.batches = [self._batch(k) for k in range(n_batches)]

    def _attrs(self) -> tuple:
        rng = self.rng
        return (int(rng.integers(N_CITIES)), int(rng.integers(len(STATUSES))),
                float(rng.integers(0, 800)) / 4.0)

    def _new_trip(self, t) -> tuple:
        row = (int(t), len(self.event_time), *self._attrs())
        self.event_time.append(row[0])
        return row

    def now(self, k: int) -> datetime:
        """Simulated time of cycle k's post."""
        return CUTOFF0 + timedelta(hours=2) + k * STEP

    def _batch(self, k: int) -> dict:
        rng, n = self.rng, self.batch_rows
        n_upd, n_late = int(n * UPDATE_FRAC), int(n * LATE_FRAC)
        n_new = n - n_upd - n_late
        now = _epoch(self.now(k))
        lo = _epoch(CUTOFF0 - timedelta(days=BASE_DAYS))
        new_ts = np.sort(rng.integers(now - int(STEP.total_seconds()), now,
                                      n_new))
        updated = rng.choice(len(self.event_time), n_upd, replace=False)
        late_ts = rng.integers(lo, _epoch(CUTOFF0), n_late)
        rows = [self._new_trip(t) for t in new_ts]
        newest = rows[-1]
        rows += [(self.event_time[tid], int(tid), *self._attrs())
                 for tid in updated]
        rows += [self._new_trip(t) for t in late_ts]
        out = {"trips": encode_trips(rows), "rows": len(rows),
               "trip_rows": rows, "newest": newest[1],
               "newest_fare": newest[4]}
        if k % PERIOD == PERIOD - 1:
            crows = []
            for cid in rng.choice(N_CITIES, CITY_BATCH, replace=False):
                v = (int(rng.integers(len(REGIONS))),
                     int(rng.integers(1_000, 5_000_000)))
                crows.append((int(cid), *v))
            out["cities"] = encode_cities(crows)
            out["city_rows"] = crows
        return out


def _probe_request(trip_id: int, now: datetime) -> str:
    return json.dumps({"queries": [{
        "table": "trips",
        "dimensions": [{"sqlExpression": "trip_id", "alias": "trip_id"},
                       {"sqlExpression": "fare", "alias": "fare"}],
        "measures": [{"sqlExpression": "1"}],
        "rowFilters": [f"trip_id = {trip_id}"],
        "timeFilter": {"column": "request_at",
                       "from": (now - 2 * STEP).strftime("%Y-%m-%d %H:%M"),
                       "to": now.strftime("%Y-%m-%d %H:%M")},
        "limit": 1}]})


def _fare_cell(f: float) -> str:
    return str(int(f)) if float(f).is_integer() else repr(float(f))


class Ingest:
    name = "ingest"
    warmup_ops = 1
    min_ops = PERIOD
    period_ops = PERIOD

    def __init__(self, seed: int, size: str, work):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.work = work
        self.gen = Generator(seed, size)
        g = self.gen
        self.base_path = os.path.join(work.sub("ingest-input"), "trips_base")
        os.makedirs(self.base_path)
        cols = list(zip(*g.base))
        pq.write_table(pa.table({
            "request_at": pa.array(np.array(cols[0], dtype="int64") * 1_000_000,
                                   pa.timestamp("us", tz="UTC")),
            "trip_id": pa.array(cols[1], pa.int64()),
            "city_id": pa.array(cols[2], pa.int32()),
            "status": pa.array([STATUSES[s] for s in cols[3]], pa.string()),
            "fare": pa.array(cols[4], pa.float32()),
        }), os.path.join(self.base_path, "part-00000.parquet"))
        self.cities_path = os.path.join(work.sub("ingest-input"),
                                        "cities_base")
        os.makedirs(self.cities_path)
        ids = sorted(g.cities0)
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int32()),
            "region": pa.array([REGIONS[g.cities0[i][0]] for i in ids]),
            "population": pa.array([g.cities0[i][1] for i in ids],
                                   pa.int64()),
        }), os.path.join(self.cities_path, "part-00000.parquet"))
        self.input_sizes = (len(g.base), len(g.batches),
                            tuple(b["rows"] for b in g.batches))
        self.input_fingerprint = fingerprint(g.base[:3], g.batches[0]["trips"])
        self.rep = 0
        self.root = None
        self.span = no_span
        self.last_error = ""
        self.k = 0
        self.wire_bytes = 0
        self.post_lat: list[float] = []
        self.probe_lat: list[float] = []
        self.pending: list[int] = []
        self.backfill_bytes: list[int] = []
        self.lifecycle_jobs = 0

    def reset(self) -> None:
        import shutil
        shutil.rmtree(self.root, ignore_errors=True)
        self.rep += 1

    def setup(self, spark, tracer=None) -> None:
        from perfbench.trace import TracedCatalog

        self.root = self.work.sub(f"ingest-store-{self.rep}")
        base = spark.read.parquet(self.base_path)
        self.store = HotColdStore(path=os.path.join(self.root, "trips"),
                                  time_column="request_at",
                                  primary_key=("trip_id",),
                                  sort_columns=("request_at",))
        self.store.init_from(base, cutoff=CUTOFF0)
        self.dim = DimensionStore(path=os.path.join(self.root, "cities"),
                                  primary_key=("id",))
        self.dim.init_from(spark.read.parquet(self.cities_path))
        schemas = SchemaStore()
        schemas.create_table(dict(TRIPS_SCHEMA))
        schemas.extend_enum_dict("trips", "status", STATUSES)
        schemas.create_table(dict(CITIES_SCHEMA))
        schemas.extend_enum_dict("cities", "region", REGIONS)
        self.handler = DataHandler(spark, schemas, {"trips": self.store,
                                                    "cities": self.dim})
        self.scheduler = Scheduler([
            TableLifecycle("trips", self.store, dict(TABLE_CONFIG)),
            TableLifecycle("cities", self.dim, dict(TABLE_CONFIG))])
        self.scheduler.run_once(spark, self.gen.now(0))
        cls = TracedCatalog if tracer is not None else Catalog
        self.catalog = cls(self.root, tables=dict(TABLES))
        if tracer is not None:
            self.catalog.tracer = tracer
            self.span = tracer.span
        # first touch: resolve both stores through the catalog
        for name in TABLES:
            self.catalog.load(spark, name).schema

    def op(self, spark, timer) -> tuple[int, bool, float]:
        """One cycle. Returns (rows acknowledged, correct, freshness):
        freshness runs from the start of the post until the probe reply
        holds the batch's newest trip. The scheduler tick comes after the
        probe, inside the cycle's wall time but outside its freshness."""
        import time

        g = self.gen
        if self.k >= len(g.batches):
            raise RuntimeError("ran out of pre-encoded batches")
        b = g.batches[self.k]
        now = g.now(self.k)
        self.k += 1
        cstatus = 200
        with timer:
            t0 = time.perf_counter()
            with self.span("data_handler.post"):
                status, body = self.handler.post_data("trips", 0, b["trips"])
            self.post_lat.append(time.perf_counter() - t0)
            if "cities" in b:
                with self.span("data_handler.post"):
                    cstatus, _ = self.handler.post_data("cities", 0,
                                                        b["cities"])
            t1 = time.perf_counter()
            with self.span("aql.api"):
                res = execute_request(spark, self.catalog,
                                      _probe_request(b["newest"], now))
            reply = json.dumps(res)
            t2 = time.perf_counter()
            self.probe_lat.append(t2 - t1)
            freshness = t2 - t0
            with self.span("lifecycle.tick"):
                self.lifecycle_jobs += len(self.scheduler.run_once(spark, now))
        if "cities" in b and cstatus == 200:
            for cid, reg, pop in b["city_rows"]:
                g.cities[cid] = (reg, pop)
        self.wire_bytes += len(b["trips"]) + len(b.get("cities", b""))
        st = pointer.read_state(self.store.path) or {}
        self.pending.append(len(st.get("hot_batches", [])))
        self.backfill_bytes.append(self.store.backfill_buffer_bytes())
        want = {"results": [{"headers": ["trip_id", "fare"], "matrixData": [
            [str(b["newest"]), _fare_cell(b["newest_fare"])]]}]}
        ok = status == 200 and cstatus == 200 and \
            body.get("rows") == b["rows"] and json.loads(reply) == want
        if not ok:
            self.last_error = (f"cycle {self.k}: post {status}/{cstatus} "
                               f"{body}; probe {reply[:200]} want {want}")
        return (body.get("rows", 0) if status == 200 else 0), ok, freshness

    def final_checks(self, spark) -> list[str]:
        """End-state audit after a backfill flush."""
        g = self.gen
        errors = []
        self.store.flush_backfill(spark)
        res = execute_request(spark, self.catalog, json.dumps({"queries": [{
            "table": "trips",
            "measures": [{"sqlExpression": "count(*)"},
                         {"sqlExpression": "sum(fare)"}]}]}))
        model = {r[1]: r for r in g.base}
        for b in g.batches[:self.k]:
            model.update((r[1], r) for r in b["trip_rows"])
        want = {"results": [{"value": [len(model),
                                       sum(r[4] for r in model.values())]}]}
        if res != want:
            errors.append(f"trips audit: got {res} want {want}")
        rows = self.catalog.load(spark, "cities").collect()
        got = {r["id"]: (r["region"], r["population"]) for r in rows}
        want_c = {i: (REGIONS[v[0]], v[1]) for i, v in g.cities.items()}
        if got != want_c:
            errors.append("cities audit: dimension rows differ from model")
        return errors

    def details(self) -> dict:
        from perfbench.harness import dir_size, percentile

        size, _files = dir_size(self.root)
        out = {"post_p50_ms": (percentile(self.post_lat, 50) * 1e3, "ms"),
               "query_p50_ms": (percentile(self.probe_lat, 50) * 1e3, "ms")}
        if self.wire_bytes:
            out["store_bytes_per_wire_byte"] = (size / self.wire_bytes, "ratio")
        return out

    def layer_values(self) -> dict:
        from perfbench.harness import dir_size

        size, files = dir_size(self.root)
        n = max(self.k, 1)
        return {
            "upsert_wire.bytes": self.wire_bytes / n,
            "hotcold.pending_batches": float(np.mean(self.pending or [0])),
            "hotcold.backfill_buffer_bytes":
                float(np.mean(self.backfill_bytes or [0])),
            "lifecycle.jobs": self.lifecycle_jobs / n,
            "store.bytes_on_disk": size,
            "store.files_on_disk": files,
        }

