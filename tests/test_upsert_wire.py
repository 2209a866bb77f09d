"""UpsertBatch V1 wire codec tests — byte-exact against the golden
buffers from the reference's own upsert_batch_builder_test.go, plus
round-trip/property coverage and the Spark ingest bridge."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from aresdb_spark.streaming.upsert_wire import (DATA_TYPES, HAS_NULL_VECTOR,
                                                ALL_VALUES_DEFAULT,
                                                ALL_VALUES_PRESENT,
                                                UpsertBatchBuilder,
                                                parse_upsert_batch,
                                                upsert_batch_to_df)

# golden buffers copied verbatim from the reference's test expectations
# (memstore/common/upsert_batch_builder_test.go:40-118; arrival time
# pinned to Unix(10) there via utils.SetCurrentTime)
GOLDEN_EMPTY = bytes([1, 0, 237, 254, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
                      0, 0, 0, 0, 0, 0, 0, 10, 0, 0, 0, 0, 0, 0, 0])
GOLDEN_EMPTY_ROW = bytes([1, 0, 237, 254, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0,
                          0, 0, 0, 0, 0, 0, 0, 0, 10, 0, 0, 0, 51, 0, 0, 0,
                          51, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 8, 0, 2, 0,
                          123, 0, 0, 0, 0, 0, 0, 0])
GOLDEN_ONE_ROW_NO_VALUE = bytes([1, 0, 237, 254, 1, 0, 0, 0, 1, 0, 0, 0, 0, 0,
                                 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 10, 0, 0, 0,
                                 51, 0, 0, 0, 51, 0, 0, 0, 0, 0, 0, 0, 0, 0,
                                 0, 0, 8, 0, 2, 0, 123, 0, 0, 0, 0, 0, 0, 0])
GOLDEN_ONE_ROW_ONE_VALUE = bytes([1, 0, 237, 254, 1, 0, 0, 0, 1, 0, 0, 0, 0,
                                  0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 10, 0, 0,
                                  0, 51, 0, 0, 0, 57, 0, 0, 0, 0, 0, 0, 0, 0,
                                  0, 0, 0, 8, 0, 2, 0, 123, 0, 1, 0, 0, 0, 0,
                                  0, 135, 0, 0, 0, 0, 0, 0, 0])
GOLDEN_BOOL_NULLVEC = bytes([1, 0, 237, 254, 2, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0,
                             0, 0, 0, 0, 0, 0, 0, 0, 0, 10, 0, 0, 0, 51, 0,
                             0, 0, 57, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0,
                             0, 0, 123, 0, 2, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0,
                             0, 0, 0])


def test_golden_empty_batch():
    assert UpsertBatchBuilder(arrival_time=10).to_byte_array() == GOLDEN_EMPTY


def test_golden_empty_row():
    b = UpsertBatchBuilder(arrival_time=10)
    b.add_column(123, "Uint8")
    assert b.to_byte_array() == GOLDEN_EMPTY_ROW


def test_golden_one_row_no_value():
    b = UpsertBatchBuilder(arrival_time=10)
    b.add_row()
    b.add_column(123, "Uint8")
    assert b.to_byte_array() == GOLDEN_ONE_ROW_NO_VALUE


def test_golden_one_row_one_value():
    b = UpsertBatchBuilder(arrival_time=10)
    b.add_row()
    b.add_column(123, "Uint8")
    b.set_value(0, 0, 135)
    assert b.to_byte_array() == GOLDEN_ONE_ROW_ONE_VALUE


def test_golden_bool_with_null_vector():
    b = UpsertBatchBuilder(arrival_time=10)
    b.add_row()
    b.add_row()
    b.add_column(123, "Bool")
    b.set_value(0, 0, False)
    assert b.to_byte_array() == GOLDEN_BOOL_NULLVEC
    # nulling the only value flips the column to all-default, shrinking
    # the buffer (the reference's "last value wins" case)
    b.set_value(0, 0, None)
    assert b.to_byte_array() == GOLDEN_ONE_ROW_NO_VALUE[:4] + \
        struct.pack("<i", 2) + GOLDEN_ONE_ROW_NO_VALUE[8:44] + \
        struct.pack("<I", DATA_TYPES["Bool"])[:4] + bytes([123, 0, 0]) + \
        GOLDEN_ONE_ROW_NO_VALUE[51:]


def test_parse_golden_buffers():
    ub = parse_upsert_batch(GOLDEN_ONE_ROW_ONE_VALUE)
    assert ub.num_rows == 1 and ub.arrival_time == 10
    (col,) = ub.columns
    assert (col.column_id, col.type_name, col.mode) == \
        (123, "Uint8", ALL_VALUES_PRESENT)
    assert col.values == [135]

    ub = parse_upsert_batch(GOLDEN_BOOL_NULLVEC)
    (col,) = ub.columns
    assert col.mode == HAS_NULL_VECTOR
    assert col.values == [False, None]

    ub = parse_upsert_batch(GOLDEN_EMPTY_ROW)
    assert ub.num_rows == 0
    assert ub.columns[0].mode == ALL_VALUES_DEFAULT


def test_parse_rejects_bad_magic():
    with pytest.raises(ValueError, match="version"):
        parse_upsert_batch(b"\x00\x00\x00\x00" + GOLDEN_EMPTY[4:])


def test_parse_raises_valueerror_on_truncated_buffers():
    """Corrupt/truncated input must surface as ValueError (never a bare
    struct.error/IndexError), so 'undecodable input' handlers catch it
    (code-review r5 finding)."""
    with pytest.raises(ValueError):
        parse_upsert_batch(b"\x01\x02")                      # too short
    with pytest.raises(ValueError):
        parse_upsert_batch(GOLDEN_ONE_ROW_ONE_VALUE[:30])    # mid-header
    with pytest.raises(ValueError):
        parse_upsert_batch(GOLDEN_ONE_ROW_ONE_VALUE[:52])    # mid-data


def test_uuid_geopoint_round_trip_through_streams(spark):
    """UUID/GeoPoint columns flow through encode→decode as the string
    forms the bridge uses — raw wire tuples never reach the Arrow layer
    (code-review r5 finding)."""
    from aresdb_spark.streaming.upsert_wire import (
        decode_upsert_batch_stream, encode_upsert_batch_stream)

    doc = {"name": "t", "columns": [
        {"name": "trip_id", "type": "Int64"},
        {"name": "uuid", "type": "UUID"},
        {"name": "loc", "type": "GeoPoint"}],
        "primaryKeyColumns": [0]}
    src = spark.createDataFrame(
        [(1, "0011223344556677" + "8899aabbccddeeff", "point(1.5 -2.25)"),
         (2, None, None)],
        "trip_id bigint, uuid string, loc string")
    blobs = encode_upsert_batch_stream(src, doc, arrival_time=3)
    rows = {r["trip_id"]: r
            for r in decode_upsert_batch_stream(blobs, doc).collect()}
    # dashed lowercase — ConvertToHumanReadable parity (data_value.go:284-292)
    assert rows[1]["uuid"] == "00112233-4455-6677-8899-aabbccddeeff"
    assert rows[1]["loc"] == "point(1.5 -2.25)"
    assert rows[2]["uuid"] is None and rows[2]["loc"] is None


def test_enum_array_export_and_geopoint_precision(spark):
    """Enum ARRAY strings encode element-wise through the dictionary,
    and GeoPoint coordinates survive the string bridge at full float32
    precision (code-review r5 #2 findings)."""
    from aresdb_spark.streaming.upsert_wire import (
        decode_upsert_batch_stream, encode_upsert_batch_stream)

    doc = {"name": "t", "columns": [
        {"name": "id", "type": "Int64"},
        {"name": "tags", "type": "SmallEnum[]"},
        {"name": "loc", "type": "GeoPoint"}],
        "primaryKeyColumns": [0]}
    src = spark.createDataFrame(
        [(1, ["red", "blue", "nope"], "point(37.774929 -122.419418)")],
        "id bigint, tags array<string>, loc string")
    blobs = encode_upsert_batch_stream(
        src, doc, arrival_time=1,
        enum_dicts={"tags": ["red", "green", "blue"]})
    (row,) = decode_upsert_batch_stream(blobs, doc).collect()
    assert row["tags"] == [0, 2, None]  # ids; out-of-dict element → NULL
    # shortest float32 round-trip digits, not %g's 6 significant digits
    # (37.77493 IS float32(37.774929) exactly; %g gave 'point(37.7749 ...)')
    assert row["loc"] == "point(37.77493 -122.41942)"
    import numpy as np
    assert np.float32("37.77493") == np.float32("37.774929")


def test_encode_handles_nan_array_items(spark):
    """Arrow renders null array elements as NaN in float ndarrays; the
    encoder must map them to wire nulls (code-review r5 finding)."""
    from aresdb_spark.streaming.upsert_wire import (
        decode_upsert_batch_stream, encode_upsert_batch_stream)

    doc = {"name": "t", "columns": [
        {"name": "id", "type": "Int64"},
        {"name": "xs", "type": "Float32[]"},
        {"name": "ns", "type": "Int32[]"}],
        "primaryKeyColumns": [0]}
    src = spark.createDataFrame(
        [(1, [1.5, None, 2.5], [7, None, 9])],
        "id bigint, xs array<float>, ns array<int>")
    blobs = encode_upsert_batch_stream(src, doc, arrival_time=1)
    (row,) = decode_upsert_batch_stream(blobs, doc).collect()
    assert row["xs"][0] == pytest.approx(1.5) and row["xs"][1] is None
    assert row["ns"] == [7, None, 9]


TYPE_VALUES = {
    "Bool": st.booleans(),
    "Int8": st.integers(-128, 127),
    "Uint8": st.integers(0, 255),
    "Int16": st.integers(-2**15, 2**15 - 1),
    "Uint16": st.integers(0, 2**16 - 1),
    "Int32": st.integers(-2**31, 2**31 - 1),
    "Uint32": st.integers(0, 2**32 - 1),
    "Int64": st.integers(-2**63, 2**63 - 1),
    "Float32": st.floats(width=32, allow_nan=False, allow_infinity=False),
    "SmallEnum": st.integers(0, 255),
    "BigEnum": st.integers(0, 2**16 - 1),
    "UUID": st.tuples(st.integers(0, 2**64 - 1), st.integers(0, 2**64 - 1)),
    "GeoPoint": st.tuples(st.floats(-90.0, 90.0, width=32),
                          st.floats(-180.0, 180.0, width=32)),
}


@settings(max_examples=60, deadline=None, derandomize=True)
@given(data=st.data())
def test_write_parse_round_trip_property(data):
    """Random columns x rows x nulls: parse(write(batch)) == batch."""
    type_names = data.draw(st.lists(
        st.sampled_from(sorted(TYPE_VALUES)), min_size=1, max_size=5))
    n_rows = data.draw(st.integers(0, 9))
    b = UpsertBatchBuilder(arrival_time=data.draw(st.integers(0, 2**32 - 1)))
    expected = []
    for i, tn in enumerate(type_names):
        b.add_column(i * 7, tn, update_mode=data.draw(st.integers(0, 4)))
    for r in range(n_rows):
        b.add_row()
    for i, tn in enumerate(type_names):
        colvals = []
        for r in range(n_rows):
            v = data.draw(st.none() | TYPE_VALUES[tn])
            if v is not None:
                b.set_value(r, i, v)
            colvals.append(v)
        expected.append(colvals)
    ub = parse_upsert_batch(b.to_byte_array())
    assert ub.num_rows == n_rows
    for i, col in enumerate(ub.columns):
        assert col.column_id == i * 7
        got = col.values
        for g, e in zip(got, expected[i]):
            if isinstance(e, float):
                assert g == pytest.approx(e, rel=1e-6)
            elif isinstance(e, tuple) and type_names[i] == "GeoPoint":
                assert g[0] == pytest.approx(e[0], rel=1e-5)
                assert g[1] == pytest.approx(e[1], rel=1e-5)
            else:
                assert g == e


def test_unknown_types_raise():
    b = UpsertBatchBuilder()
    with pytest.raises(ValueError):
        b.add_column(0, "GeoShape[]")  # no array-of-shape in the reference


def test_geoshape_round_trip_reference_scenario():
    """The reference's 'works for geoshape' case
    (upsert_batch_test.go:547-598): Uint32 + GeoShape + Bool columns, one
    valued row (WKT string, lng-first) and one all-nil row. The parsed
    shape holds lat-first pairs like GeoShapeGo."""
    b = UpsertBatchBuilder(arrival_time=10)
    b.add_column(0, "Uint32")
    b.add_column(1, "GeoShape")
    b.add_column(2, "Bool")
    b.add_row()
    b.set_value(0, 0, 2)
    b.set_value(0, 1, "POLYGON((-180.0 90.0, -180.0 90.0))")
    b.set_value(0, 2, True)
    b.add_row()  # all nil

    ub = parse_upsert_batch(b.to_byte_array())
    assert ub.column_by_id(0).values == [2, None]
    assert ub.column_by_id(2).values == [True, None]
    shape = ub.column_by_id(1).values
    assert shape[1] is None
    assert shape[0] == [[(90.0, -180.0), (90.0, -180.0)]]


def test_geoshape_byte_layout_golden():
    """Byte-exact layout pin for a GeoShape column, hand-assembled from
    the documented reference layout (upsert_batch_builder.go:112-151,
    :271-279; data_value.go:562-589): a Go-type column in HasNullVector
    mode writes NO null bitvector — only the 4-aligned offset vector
    (null = repeated offset) and the 8-aligned shape payloads."""
    b = UpsertBatchBuilder(arrival_time=10)
    b.add_column(0, "Uint32")
    b.add_column(1, "GeoShape")
    b.add_column(2, "Bool")
    b.add_row()
    b.set_value(0, 0, 2)
    b.set_value(0, 1, [[(90.0, -180.0), (90.0, -180.0)]])  # lat-first
    b.set_value(0, 2, True)
    b.add_row()

    # header: 28 fixed + (3+1)*4 offsets + 3*4 enum + 3*4 reserved
    #         + 3*4 types + 3*2 ids + 3*1 modes = 89
    g = bytearray(160)
    struct.pack_into("<IiH", g, 0, 0xFEED0001, 2, 3)
    struct.pack_into("<I", g, 24, 10)                      # arrival
    struct.pack_into("<4I", g, 28, 89, 104, 144, 153)      # column spans
    struct.pack_into("<3I", g, 68, DATA_TYPES["Uint32"],
                     DATA_TYPES["GeoShape"], DATA_TYPES["Bool"])
    struct.pack_into("<3H", g, 80, 0, 1, 2)                # column ids
    g[86:89] = bytes([HAS_NULL_VECTOR] * 3)                # modes
    # col0 Uint32: null vector byte @89 (row0 valid), values 8-aligned @96
    g[89] = 0b01
    struct.pack_into("<I", g, 96, 2)
    # col1 GeoShape: NO null vector; offsets 4-aligned @104 (end repeats
    # for the null row), payload 8-aligned @120
    struct.pack_into("<3I", g, 104, 0, 24, 24)
    struct.pack_into("<II", g, 120, 1, 2)                  # 1 polygon, 2 pts
    struct.pack_into("<4f", g, 128, 90.0, -180.0, 90.0, -180.0)
    # col2 Bool: null vector byte @144, bit-packed values @152
    g[144] = 0b01
    g[152] = 0b01
    assert b.to_byte_array() == bytes(g)


def test_geoshape_wkt_parse_render():
    from aresdb_spark.streaming.upsert_wire import (geo_shape_from_wkt,
                                                    geo_shape_to_wkt)

    polys = geo_shape_from_wkt(
        "Polygon((1.5 2.5, 3 4), (-10 -20, 30.25 40))")
    assert polys == [[(2.5, 1.5), (4.0, 3.0)], [(-20.0, -10.0),
                                                (40.0, 30.25)]]
    # render → parse is the identity (lossless float32 rendering)
    assert geo_shape_from_wkt(geo_shape_to_wkt(polys)) == polys
    # validation mirrors GeoShapeFromString (data_type.go:482-512)
    with pytest.raises(ValueError):
        geo_shape_from_wkt("POLYGON((181 0))")    # lng out of range
    with pytest.raises(ValueError):
        geo_shape_from_wkt("POLYGON((0 91))")     # lat out of range
    with pytest.raises(ValueError):
        geo_shape_from_wkt("POLYGON((1 2 3))")    # bad pair


@settings(max_examples=40, deadline=None, derandomize=True)
@given(data=st.data())
def test_geoshape_round_trip_property(data):
    """Random shape columns: multi-polygon, empty-polygon, null rows —
    parse(write(batch)) preserves every (lat, lng) pair exactly
    (float32 in, float32 out)."""
    coord = st.tuples(st.floats(-90.0, 90.0, width=32),
                      st.floats(-180.0, 180.0, width=32))
    shape = st.lists(st.lists(coord, max_size=5), min_size=1, max_size=3)
    n_rows = data.draw(st.integers(1, 8))
    b = UpsertBatchBuilder(arrival_time=7)
    b.add_column(0, "Int32")
    b.add_column(1, "GeoShape")
    expected = []
    for r in range(n_rows):
        b.add_row()
        b.set_value(r, 0, r)
        v = data.draw(st.none() | shape)
        if v is not None:
            b.set_value(r, 1, v)
        expected.append(v)
    got = parse_upsert_batch(b.to_byte_array()).column_by_id(1).values
    for g, e in zip(got, expected):
        if e is None:
            assert g is None
        else:
            assert g == [[(pytest.approx(la, rel=1e-6),
                           pytest.approx(lo, rel=1e-6))
                          for la, lo in poly] for poly in e]


def test_array_column_round_trip_reference_scenario():
    """The reference's 'works for array types' case
    (upsert_batch_test.go:607-665): scalar columns around an ArrayInt32
    column, one array with a null middle item, plus a null array row and
    an empty (non-null) array row."""
    b = UpsertBatchBuilder(arrival_time=10)
    b.add_column(1, "Uint16")
    b.add_column(2, "Int32[]")
    b.add_column(3, "Int32")
    for r, (u, arr, i) in enumerate([
            (1, [11, None, 13], 101),
            (2, [21, 22, None], 102),
            (3, None, 103),          # null array
            (4, [], 104)]):          # empty but present array
        b.add_row()
        b.set_value(r, 0, u)
        if arr is not None:
            b.set_value(r, 1, arr)
        b.set_value(r, 2, i)
    ub = parse_upsert_batch(b.to_byte_array())
    assert ub.column_by_id(1).values == [1, 2, 3, 4]
    assert ub.column_by_id(3).values == [101, 102, 103, 104]
    assert ub.column_by_id(2).values == [[11, None, 13], [21, 22, None],
                                         None, []]


@settings(max_examples=40, deadline=None, derandomize=True)
@given(data=st.data())
def test_array_round_trip_property(data):
    """Random array columns across item types, incl. null items, null
    arrays, empty arrays, and Bool bit-packing."""
    item = data.draw(st.sampled_from(
        ["Bool", "Int8", "Int32", "Int64", "Float32", "Uint16", "UUID",
         "GeoPoint"]))
    n_rows = data.draw(st.integers(1, 8))
    b = UpsertBatchBuilder(arrival_time=7)
    b.add_column(0, "Int64")
    b.add_column(5, f"{item}[]")
    expected = []
    for r in range(n_rows):
        b.add_row()
        b.set_value(r, 0, r)
        arr = data.draw(st.none() | st.lists(
            st.none() | TYPE_VALUES[item], max_size=6))
        if arr is not None:
            b.set_value(r, 1, arr)
        expected.append(arr)
    got = parse_upsert_batch(b.to_byte_array()).column_by_id(5).values
    for g, e in zip(got, expected):
        if e is None or g is None:
            assert g == e
            continue
        assert len(g) == len(e)
        for gi, ei in zip(g, e):
            if isinstance(ei, float):
                assert gi == pytest.approx(ei, rel=1e-6)
            elif isinstance(ei, tuple) and item == "GeoPoint":
                assert gi[0] == pytest.approx(ei[0], rel=1e-5)
                assert gi[1] == pytest.approx(ei[1], rel=1e-5)
            else:
                assert gi == ei


def test_redo_log_framing_and_truncated_tail():
    from aresdb_spark.streaming.upsert_wire import (iter_redo_log,
                                                    write_redo_log)
    b1 = UpsertBatchBuilder(arrival_time=10)
    b1.add_row()
    b1.add_column(0, "Int32")
    b1.set_value(0, 0, 42)
    b2 = UpsertBatchBuilder(arrival_time=11)
    b2.add_row()
    b2.add_column(0, "Int32")
    b2.set_value(0, 0, -7)
    log = write_redo_log([b1.to_byte_array(), b2.to_byte_array()])
    decoded = [parse_upsert_batch(b).columns[0].values
               for b in iter_redo_log(log)]
    assert decoded == [[42], [-7]]
    # recovery stops at a truncated tail instead of erroring
    assert [parse_upsert_batch(b).columns[0].values
            for b in iter_redo_log(log[:-3])] == [[42]]


def test_decode_upsert_batch_stream_map_in_pandas(spark):
    """Kafka-shaped binary values decode distributed (mapInPandas), with
    missing columns NULL-filled and undecodable blobs dropped."""
    from aresdb_spark.streaming.upsert_wire import decode_upsert_batch_stream

    schema_doc = {
        "name": "trips",
        "columns": [{"name": "request_at", "type": "Uint32"},
                    {"name": "trip_id", "type": "Int64"},
                    {"name": "fare", "type": "Float32"}],
        "primaryKeyColumns": [1],
    }
    b1 = UpsertBatchBuilder(arrival_time=10)
    b1.add_column(0, "Uint32")
    b1.add_column(1, "Int64")
    b1.add_column(2, "Float32")
    for r, (ts, tid, fare) in enumerate([(100, 1, 2.5), (200, 2, 4.0)]):
        b1.add_row()
        b1.set_value(r, 0, ts)
        b1.set_value(r, 1, tid)
        b1.set_value(r, 2, fare)
    b2 = UpsertBatchBuilder(arrival_time=11)  # fare column absent
    b2.add_column(0, "Uint32")
    b2.add_column(1, "Int64")
    b2.add_row()
    b2.set_value(0, 0, 300)
    b2.set_value(0, 1, 3)

    raw = spark.createDataFrame(
        [(b1.to_byte_array(),), (b2.to_byte_array(),), (b"garbage",)],
        "value binary")
    rows = {r["trip_id"]: r
            for r in decode_upsert_batch_stream(raw, schema_doc).collect()}
    assert len(rows) == 3
    assert rows[1]["fare"] == pytest.approx(2.5)
    assert rows[3]["request_at"] == 300 and rows[3]["fare"] is None


def test_encode_decode_stream_round_trip(spark):
    """Distributed export → import: a DataFrame encodes to wire blobs
    (mapInPandas, multiple batches per partition) and decodes back to
    the same rows — the full Kafka producer→consumer path minus the
    broker."""
    from aresdb_spark.streaming.upsert_wire import (
        decode_upsert_batch_stream, encode_upsert_batch_stream)

    schema_doc = {
        "name": "trips",
        "columns": [{"name": "request_at", "type": "Uint32"},
                    {"name": "trip_id", "type": "Int64"},
                    {"name": "fare", "type": "Float32"}],
        "primaryKeyColumns": [1],
    }
    src = spark.createDataFrame(
        [(1700000000 + i, i, float(i) * 1.5 if i % 3 else None)
         for i in range(257)],
        "request_at bigint, trip_id bigint, fare double").repartition(4)
    blobs = encode_upsert_batch_stream(src, schema_doc, arrival_time=9,
                                       batch_rows=100)
    n_blobs = blobs.count()
    assert n_blobs >= 4  # at least one per partition, chunked by 100

    back = decode_upsert_batch_stream(blobs, schema_doc)
    rows = {r["trip_id"]: r for r in back.collect()}
    assert len(rows) == 257
    assert rows[4]["request_at"] == 1700000004
    assert rows[4]["fare"] == pytest.approx(6.0)
    assert rows[3]["fare"] is None  # NULL survives the round trip


def test_wire_batch_ingests_through_apply_upsert(spark):
    """End-to-end: reference-client bytes -> DataFrame + modes via the
    metastore schema -> apply_upsert semantics (add mode accumulates)."""
    from aresdb_spark.streaming.upsert import apply_upsert_batch

    schema_doc = {
        "name": "trips",
        "columns": [{"name": "request_at", "type": "Uint32"},
                    {"name": "trip_id", "type": "Int64"},
                    {"name": "fare", "type": "Float32"}],
        "primaryKeyColumns": [1],
        "isFactTable": True,
    }
    b = UpsertBatchBuilder(arrival_time=1700000000)
    b.add_column(0, "Uint32")
    b.add_column(1, "Int64")
    b.add_column(2, "Float32", update_mode="add")
    for r, (ts, tid, fare) in enumerate([(100, 1, 2.5), (200, 2, 4.0)]):
        b.add_row()
        b.set_value(r, 0, ts)
        b.set_value(r, 1, tid)
        b.set_value(r, 2, fare)

    df, modes = upsert_batch_to_df(spark, b.to_byte_array(), schema_doc)
    assert modes == {"request_at": "overwrite", "trip_id": "overwrite",
                     "fare": "add"}
    assert df.columns == ["request_at", "trip_id", "fare"]

    base = spark.createDataFrame(
        [(50, 1, 10.0)], schema=df.schema)
    merged = apply_upsert_batch(base, df, pk_cols=["trip_id"], modes=modes)
    rows = {r["trip_id"]: r for r in merged.collect()}
    assert rows[1]["fare"] == pytest.approx(12.5)   # add mode accumulated
    assert rows[1]["request_at"] == 100             # overwrite mode
    assert rows[2]["fare"] == pytest.approx(4.0)    # fresh insert


# one non-null sample per wire type; arrays mix in a null element
BRIDGE_SAMPLES = {
    "Bool": True, "Int8": -7, "Uint8": 250, "Int16": -30000,
    "Uint16": 65000, "Int32": -2**31, "Uint32": 2**32 - 1,
    "Float32": 1.5, "SmallEnum": 3, "BigEnum": 300,
    "UUID": (0x0123456789ABCDEF, 0xFEDCBA9876543210),
    "GeoPoint": (37.7749, -122.4194),
    "GeoShape": "POLYGON((-122.4 37.7, -122.5 37.8, -122.4 37.7))",
    "Int64": -2**63,
}


def _rows_path_df(spark, buffer, schema_doc):
    """The former bridge: Python row tuples through
    ``spark.createDataFrame(rows, schema)`` — the differential reference
    for the Arrow-built frame."""
    from pyspark.sql import types as T

    from aresdb_spark.streaming.upsert_wire import _spark_type, _wire_to_bridge

    ub = parse_upsert_batch(buffer)
    cols = sorted(ub.columns, key=lambda c: c.column_id)
    schema = T.StructType([
        T.StructField(schema_doc["columns"][c.column_id]["name"],
                      T._parse_datatype_string(_spark_type(c.type_name)))
        for c in cols])
    rows = [tuple(_wire_to_bridge(c.type_name, c.values[r]) for c in cols)
            for r in range(ub.num_rows)]
    return spark.createDataFrame(rows, schema)


def test_arrow_bridge_matches_rows_path_for_every_wire_type(spark):
    """Every scalar and array wire type, with null cells and null array
    items: the Arrow-built frame has the rows path's schema and rows
    (in order), and plans as a LocalRelation — no Python RDD."""
    types = sorted(DATA_TYPES)
    doc = {"name": "all", "columns": [
        {"name": f"c{i}", "type": t} for i, t in enumerate(types)]}
    b = UpsertBatchBuilder(arrival_time=10)
    for i, t in enumerate(types):
        b.add_column(i, t)
    for r in range(4):
        b.add_row()
    for i, t in enumerate(types):
        item = BRIDGE_SAMPLES[t.rstrip("[]")]
        if t.endswith("[]"):
            b.set_value(0, i, [item, None, item])
            b.set_value(1, i, [])
            b.set_value(3, i, [None])
        else:
            b.set_value(0, i, item)
            b.set_value(3, i, item)
        # row 2 is null in every column
    buf = b.to_byte_array()

    df, modes = upsert_batch_to_df(spark, buf, doc)
    ref = _rows_path_df(spark, buf, doc)
    assert df.schema == ref.schema
    got = df.collect()
    assert got == ref.collect()
    assert set(modes.values()) == {"overwrite"}
    assert got[0]["c" + str(types.index("UUID"))] == \
        "01234567-89ab-cdef-fedc-ba9876543210"
    assert all(v is None for v in got[2])

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


@pytest.mark.parametrize("type_name,bad", [
    ("Int8", 300),        # pyarrow ArrowInvalid: out of range
    ("Int64", 2**70),     # OverflowError
    ("UUID", 1),          # pyarrow ArrowTypeError: int for a string
])
def test_arrow_bridge_conversion_errors_are_value_errors(
        spark, monkeypatch, type_name, bad):
    """A value Arrow cannot hold in its column type surfaces as
    ValueError (what ``post_data`` answers 400 for), whichever of
    pyarrow's or Python's errors the conversion raised."""
    from aresdb_spark.streaming import upsert_wire
    from aresdb_spark.streaming.upsert_wire import UpsertBatch, UpsertColumn

    # hand the raw value to Arrow unconverted (the parser never yields
    # these; the mapping is the boundary's guarantee, not the parser's)
    monkeypatch.setattr(upsert_wire, "_bridge_column", lambda c: c.values)
    doc = {"name": "t", "columns": [{"name": "x", "type": type_name}]}
    ub = UpsertBatch(1, 10, [UpsertColumn(0, type_name, ALL_VALUES_PRESENT,
                                          0, [bad])])
    with pytest.raises(ValueError, match="does not convert"):
        upsert_batch_to_df(spark, ub, doc)
