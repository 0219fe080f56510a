"""The Arrow boundary every Python kernel crosses (functions/arrow.py):
vector columns become one (n, d) matrix exactly or raise ValueError,
empty inputs come back as empty frames with the declared schema, and a
vector column carried through a kernel comes back bit-identical."""

import struct

import numpy as np
import pyarrow as pa
import pytest

from azure_airbnb_cdc_ingestion_pipeline_spark.functions import arrow


def _rows(M):
    return [list(r) for r in M]


def test_matrix_rejects_a_null_vector():
    with pytest.raises(ValueError):
        arrow.matrix(pa.array([[1.0, 2.0], None, [3.0, 4.0]]))


@pytest.mark.parametrize(
    "rows",
    [
        [[1.0], [2.0, 3.0, 4.0]],  # 4 values = 2·2: a reshape alone would pass
        [[1.0, 2.0], [3.0], [4.0, 5.0, 6.0]],
        [[1.0, 2.0], [3.0, 4.0], []],
    ],
)
def test_matrix_rejects_mixed_lengths(rows):
    with pytest.raises(ValueError):
        arrow.matrix(pa.array(rows))


def test_matrix_honours_a_sliced_list_array():
    whole = pa.array([[9.0, 9.0, 9.0], [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    sliced = whole.slice(1)
    assert sliced.offset == 1
    assert _rows(arrow.matrix(sliced)) == [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]
    chunked = pa.chunked_array([whole.slice(0, 1), sliced])
    assert _rows(arrow.matrix(chunked)) == whole.to_pylist()


def test_matrix_widens_float_and_int_vectors_exactly():
    f32 = pa.array([[0.1, 1.5]], type=pa.list_(pa.float32()))
    assert arrow.matrix(f32).dtype == np.float64
    assert _rows(arrow.matrix(f32)) == f32.to_pylist()
    ints = pa.array([[1, 2], [3, 4]], type=pa.list_(pa.int32()))
    assert _rows(arrow.matrix(ints)) == [[1.0, 2.0], [3.0, 4.0]]


def test_driver_collect_gives_the_same_matrix(spark):
    df = spark.createDataFrame(
        [(i, [float(i), i / 3.0]) for i in range(5)], "id long, v array<double>"
    )
    got = arrow.collect(df)
    assert got["id"].tolist() == list(range(5))
    assert _rows(got["v"]) == [[float(i), i / 3.0] for i in range(5)]


_OUT = "id long, v array<double>, s double"


@pytest.mark.parametrize("form", ["map", "partition", "grouped", "cogrouped"])
def test_empty_input_gives_empty_frame_with_declared_schema(spark, form):
    # defined here, not at module level, so it pickles by value
    def _kernel(b):
        return {"id": b.arrow("id"), "v": b["v"] * 2, "s": b["v"].sum(axis=1)}

    df = spark.createDataFrame([(1, [1.0, 2.0], 0)], "id long, v array<double>, g int")
    empty = df.filter("id < 0")
    if form == "map":
        out = arrow.map_batches(empty, _kernel, _OUT)
    elif form == "partition":
        out = arrow.map_batches(empty, _kernel, _OUT, whole_partition=True)
    elif form == "grouped":
        out = arrow.apply_groups(empty.groupBy("g"), _kernel, _OUT)
    else:
        # one side empty, then both
        out = arrow.apply_cogroups(
            df.groupBy("g").cogroup(empty.groupBy("g")),
            lambda l, r: _kernel(l), _OUT,
        ).unionByName(
            arrow.apply_cogroups(
                empty.groupBy("g").cogroup(empty.groupBy("g")),
                lambda l, r: _kernel(l), _OUT,
            )
        )
    assert out.collect() == []
    assert out.schema == spark.createDataFrame([], _OUT).schema


def test_kernel_returning_none_emits_no_rows(spark):
    df = spark.createDataFrame([(1, [1.0], 0)], "id long, v array<double>, g int")
    assert arrow.map_batches(df, lambda b: None, _OUT).collect() == []
    assert arrow.apply_groups(df.groupBy("g"), lambda b: None, _OUT).collect() == []


# doubles whose bits a float round trip through text or pandas could
# disturb: -0.0, a subnormal, a NaN with a payload, ±inf, 1/3
_TRICKY = [
    -0.0,
    5e-324,
    struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000123))[0],
    float("inf"),
    -float("inf"),
    1.0 / 3.0,
]


def _bits(rows):
    return [struct.pack(f"<{len(v)}d", *v) for v in rows]


def test_carried_vector_column_is_bit_identical(spark):
    rows = [(i, i % 2, [x * (i + 1) for x in _TRICKY]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, g long, vv array<double>")
    want = {i: _bits([v])[0] for i, _, v in rows}

    # map form, as ivf_topk's _assign and semdedup_scaled's _coarse_assign
    # carry their input: every column through plus one computed column
    appended = arrow.map_batches(
        df,
        lambda b: b.append("cell", np.zeros(len(b), dtype=np.int64)),
        "id long, g long, vv array<double>, cell long",
    )
    # cogrouped form, as semdedup_scaled's _fine_assign carries "vv"
    cogrouped = arrow.apply_cogroups(
        df.groupBy("g").cogroup(df.groupBy("g")),
        lambda l, r: {"id": l.arrow("id"), "vv": l.arrow("vv")},
        "id long, vv array<double>",
    )
    for out in (appended, cogrouped):
        got = out.toArrow()
        ids = got.column("id").to_pylist()
        vecs = got.column("vv").to_pylist()
        assert sorted(ids) == list(range(40))
        assert {i: b for i, b in zip(ids, _bits(vecs))} == want
