"""The hot store's one-scan read: every pending batch dir is read
through a single parquet relation whose batch order comes from each
file's ``batch=<N>`` directory, and an empty cold side plans as an
empty local relation the optimizer prunes."""

from datetime import datetime

import pytest
from pyspark.sql import Row

from aresdb_spark.sources import hotcold
from aresdb_spark.sources.hotcold import HotColdStore
from aresdb_spark.streaming.upsert import apply_upsert_batch

CUTOFF = datetime(2024, 1, 15)
MODES = {"v": "force", "n": "add"}


def _rows(spec, hour):
    """``[(id, v, n), ...]`` → rows in that order, all hot."""
    return [Row(id=i, ts=datetime(2024, 1, 16, hour), v=v, n=n)
            for i, v, n in spec]


def _store(spark, root):
    store = HotColdStore(path=str(root), time_column="ts",
                         primary_key=("id",), modes=MODES)
    store.init_from(spark.createDataFrame(
        _rows([(i, 0.0, 1) for i in range(20)], 0)), CUTOFF)
    return store


def _pending_from(spark, store, first_n, batches):
    """Ingest filler batches until the next batch number is ``first_n``,
    compact them into the base, then ingest ``batches`` — a list of
    ``(rows spec, mode override or None)`` — as the pending set. Returns
    the logical hot state predicted by chaining ``apply_upsert_batch``
    over the compacted base and the same batches in arrival order."""
    for k in range(first_n):
        store.ingest(spark, spark.createDataFrame(
            _rows([(19, float(k), 0)], 1)), CUTOFF)
    store.compact_hot(spark)
    hot = store.read_hot(spark)
    want = spark.createDataFrame(hot.collect(), hot.schema)
    for hour, (spec, override) in enumerate(batches, start=2):
        df = spark.createDataFrame(_rows(spec, hour))
        store.ingest(spark, df, CUTOFF, modes=override)
        want = apply_upsert_batch(want, df, ["id"],
                                  MODES if override is None else override)
    nums = [e["n"] for e in store._pending_hot_batches()]
    assert nums == list(range(first_n, first_n + len(batches)))
    return {r["id"]: (r["v"], r["n"]) for r in want.collect()}


def _hot(spark, store):
    return {r["id"]: (r["v"], r["n"]) for r in store.read_hot(spark).collect()}


# PK 1 is the LAST row of batch=9 and the FIRST row of batch=10: any
# order that is not numeric-by-directory (lexicographic "10" < "9", or a
# batch number taken from the wrong path component, which ties the two
# batches and leaves only the intra-batch seq) lets batch 9's value win
NINE_TEN = [([(5, 1.0, 1), (6, 1.0, 1), (1, 9.0, 1)], None),
            ([(1, 10.0, 1), (7, 1.0, 1)], None)]


def test_pending_batches_fold_in_numeric_order(spark, tmp_path):
    store = _store(spark, tmp_path / "t")
    want = _pending_from(spark, store, 9, NINE_TEN)
    got = _hot(spark, store)
    assert got[1] == (10.0, 3)
    assert got == want


def test_store_root_containing_batch_dir_name(spark, tmp_path):
    """A ``batch=`` component above the store root must not be taken
    for the batch number: only the file's parent directory counts."""
    store = _store(spark, tmp_path / "batch=99" / "t")
    want = _pending_from(spark, store, 9, NINE_TEN)
    got = _hot(spark, store)
    assert got[1] == (10.0, 3)
    assert got == want


def test_mode_override_batch_mixed_into_the_scan(spark, tmp_path):
    """An override batch between default batches takes the exact replay
    — one merge per batch, each a filter of the same one scan — across
    the 9 → 10 boundary."""
    store = _store(spark, tmp_path / "t")
    want = _pending_from(spark, store, 8, [
        ([(1, 8.0, 2), (2, 8.0, 2)], None),
        ([(3, 5.0, 4), (1, 9.0, 5)], {"v": "force", "n": "force"}),
        ([(1, 10.0, 7), (4, 1.0, 1)], None)])
    got = _hot(spark, store)
    assert got[1] == (10.0, 12)   # forced to 5 in batch 9, then +7
    assert got == want


def test_whole_base_fold_reads_the_one_scan(spark, tmp_path, monkeypatch):
    """``HOT_PROBE_MAX_ROWS = 0`` skips the pending-PK probe and folds
    the whole base against the same scan, in numeric batch order."""
    monkeypatch.setattr(hotcold, "HOT_PROBE_MAX_ROWS", 0)
    store = _store(spark, tmp_path / "t")
    want = _pending_from(spark, store, 9, NINE_TEN)
    got = _hot(spark, store)
    assert got[1] == (10.0, 3)
    assert got == want


def _file_relations(df, marker):
    """Root paths of every file relation in the optimized plan whose
    roots mention ``marker``, one tuple per relation node."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        roots = leaf.relation().location().rootPaths()
        paths = tuple(sorted(roots.apply(j).toString()
                             for j in range(roots.size())))
        if any(marker in p for p in paths):
            out.append(paths)
    return out


@pytest.mark.parametrize("probe_max", [1_000_000, 0])
def test_pending_batches_plan_one_relation(spark, tmp_path, probe_max,
                                           monkeypatch):
    monkeypatch.setattr(hotcold, "HOT_PROBE_MAX_ROWS", probe_max)
    store = _store(spark, tmp_path / "t")
    k = 4
    for b in range(k):
        store.ingest(spark, spark.createDataFrame(
            _rows([(b, float(b), 1)], 1 + b)), CUTOFF)
    df = store.read_hot(spark)
    rels = _file_relations(df, "hotbatch")
    # the probe and the fold may both reference the scan, but it is one
    # relation over all k dirs, never one relation per batch dir
    assert len(set(rels)) == 1, rels
    assert len(rels[0]) == k
    got = {r["id"]: r["n"] for r in df.collect()}
    assert [got[b] for b in range(k)] == [2] * k


def test_pruned_cold_side_plans_no_python_rdd(spark, tmp_path):
    """A read whose time range prunes every cold day gets an empty local
    relation for the cold side, which the optimizer removes: no Python
    RDD scan (and so no Python worker task) in the executed plan."""
    from aresdb_spark.catalog import Catalog, TableDef
    from aresdb_spark.plans.audit import executed_plan_str

    store = HotColdStore(path=str(tmp_path / "t"), time_column="ts",
                         primary_key=("id",), modes=MODES)
    store.init_from(spark.createDataFrame(
        [Row(id=100, ts=datetime(2024, 1, 10), v=1.0, n=1)]
        + _rows([(i, 0.0, 1) for i in range(3)], 0)), CUTOFF)
    store.ingest(spark, spark.createDataFrame(
        _rows([(1, 5.0, 1)], 3)), CUTOFF)
    assert store.cold_day_keys()
    window = (datetime(2024, 1, 16), datetime(2024, 1, 17))
    # the store's union view, and the same read as a query's table load
    catalog = Catalog(str(tmp_path), tables={"t": TableDef(
        "t", is_fact=True, time_column="ts", primary_key=("id",),
        hotcold=True)})
    for df in (store.read(spark, time_range=window),
               catalog.load(spark, "t", time_range=window)):
        plan = executed_plan_str(df)
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
        assert sorted(r["id"] for r in df.collect()) == [0, 1, 2]


def _plan_nodes(df, name):
    """Optimized-plan lines whose node is ``name``."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines()
            if ln.lstrip(" :+-").split(" ", 1)[0] == name]


def test_backfill_flush_plans_one_scan_and_one_fold(
        spark, tmp_path, monkeypatch):
    """``flush_backfill`` over k >= 3 queued batches rewrites cold from
    ONE parquet relation over every ``backfill/`` dir and ONE fold
    aggregate — no per-batch full-outer join — in numeric batch order."""
    store = _store(spark, tmp_path / "t")
    k = 3
    for b in range(k):
        store.ingest(spark, spark.createDataFrame(
            [Row(id=50, ts=datetime(2024, 1, 5), v=float(b), n=1),
             Row(id=60 + b, ts=datetime(2024, 1, 6), v=1.0, n=1)]),
            CUTOFF, defer_backfill=True)
    written = []
    real = HotColdStore._write_cold_days

    def capture(self, df, ck):
        written.append(df)
        return real(self, df, ck)

    monkeypatch.setattr(HotColdStore, "_write_cold_days", capture)
    assert store.flush_backfill(spark) == k
    (df,) = written
    rels = _file_relations(df, "backfill")
    assert len(rels) == 1 and len(rels[0]) == k, rels
    assert len(_plan_nodes(df, "Aggregate")) == 1
    assert not [j for j in _plan_nodes(df, "Join") if "FullOuter" in j]
    got = {r["id"]: (r["v"], r["n"]) for r in store.read_cold(spark).collect()}
    assert got == {50: (2.0, 3), 60: (1.0, 1), 61: (1.0, 1), 62: (1.0, 1)}


def test_every_log_append_caps_its_file_count(spark, tmp_path, monkeypatch):
    """``batchlog.MAX_FILES`` bounds the files of every appended batch
    dir — hot batch, backfill queue and dimension journal alike — and
    the capped dirs read back every row."""
    import os

    from aresdb_spark.sources import batchlog
    from aresdb_spark.sources.hotcold import DimensionStore

    monkeypatch.setattr(batchlog, "MAX_FILES", 2)
    store = _store(spark, tmp_path / "t")
    rows = [Row(id=100 + i, ts=datetime(2024, 1, 5 + 11 * (i % 2)),
                v=1.0, n=1) for i in range(40)]
    store.ingest(spark, spark.createDataFrame(rows).repartition(6),
                 CUTOFF, defer_backfill=True)
    dim = DimensionStore(path=str(tmp_path / "d"), primary_key=("k",))
    dim.init_from(spark.createDataFrame([Row(k=0, name="a")]))
    dim.journal_ingest(spark.createDataFrame(
        [Row(k=i, name=str(i)) for i in range(40)]).repartition(6))

    for owner, log, n_rows in ((store, store.hot_log, 20),
                               (store, store.backfill_log, 20),
                               (dim, dim.journal_log, 40)):
        st = owner._state()
        (e,) = log.pending(st)
        files = [n for n in os.listdir(log.dir(e["n"]))
                 if n.endswith(".parquet")]
        assert 1 <= len(files) <= 2, (log.name, files)
        assert log.size(st)[0] == n_rows
    assert store.flush_backfill(spark) == 1
    assert store.read(spark).count() == 20 + 40
    assert dim.read(spark).count() == 40
