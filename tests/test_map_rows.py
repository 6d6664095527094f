"""Output contract of the per-row operators outside audio: empty input,
skipped rows, NULL ids and the id's type survive the row loop."""

import numpy as np
import pytest
from pyspark.sql.types import StructType

from mds_provider_spark.functions import multimodal as MM
from mds_provider_spark.functions import video as VID
from mds_provider_spark.operators import text as TX

_Y4M = VID.encode_y4m(np.arange(3 * 4 * 6, dtype=np.uint8).reshape(3, 4, 6))
_IMG = bytes(range(64))  # the fake8x8 test modality decodes any bytes

# name -> (call, input DDL, output DDL, rows the operator cannot use and
# what it emits for them, rows it keeps with their output ids)
_ROW_OPS = {
    "compression_ratio": (
        lambda df: TX.compression_ratio(df, "doc_id", "text"),
        "doc_id bigint, text string",
        "doc_id bigint, n_raw_bytes bigint, n_compressed_bytes bigint, ratio double",
        ([(1, None), (2, None)], []),
        ([(2**40, "abab"), (None, "x")], [2**40, None]),
    ),
    "image_features": (
        MM.image_features,
        "item_id string, bytes binary, format string",
        "item_id string, height int, width int, channels int, "
        "mean_intensity double, decode_ok boolean",
        ([("nul", None, "fake8x8"), ("fmt", _IMG, "tiff"), ("bad", b"\x01", "png")],
         [("bad", None, None, None, None, False), ("fmt", None, None, None, None, False),
          ("nul", None, None, None, None, False)]),
        ([("a", _IMG, "fake8x8"), (None, _IMG, "fake8x8")], ["a", None]),
    ),
    "sample_frames": (
        lambda df: VID.sample_frames(df, every_nth=2),
        "item_id string, bytes binary, format string",
        "item_id string, frame_idx int, height int, width int, frame_png binary",
        ([("nul", None, "y4m"), ("fmt", _Y4M, "h264"), ("cut", _Y4M[:-5], "y4m")], []),
        ([("a", _Y4M, "y4m"), (None, _Y4M, "y4m")], ["a", "a", None, None]),
    ),
}


@pytest.mark.parametrize("name", list(_ROW_OPS))
def test_row_operators_output_contract(spark, name):
    """Zero input rows and a batch the operator cannot use give exactly
    the declared schema (no rows, or image_features' one failed row per
    input); NULL ids are kept and a bigint id keeps its full value."""
    call, in_ddl, out_ddl, (bad, bad_out), (good, good_ids) = _ROW_OPS[name]
    declared = StructType.fromDDL(out_ddl)

    def run(rows):
        out = call(spark.createDataFrame(rows, in_ddl).coalesce(1))
        assert out.dtypes == [(f.name, f.dataType.simpleString()) for f in declared]
        return sorted((tuple(r) for r in out.collect()), key=repr)

    assert run([]) == []
    assert run(bad) == bad_out
    ids = [r[0] for r in run(good + bad) if r not in bad_out]
    assert sorted(ids, key=repr) == sorted(good_ids, key=repr)


@pytest.mark.parametrize("name", ["image_features", "sample_frames"])
def test_row_operators_cast_int_ids_to_string(spark, name):
    """An int item_id comes out as its string form ('7', not 7 or '7.0')."""
    call, _, _, _, _ = _ROW_OPS[name]
    row = (_IMG, "fake8x8") if name == "image_features" else (_Y4M, "y4m")
    df = spark.createDataFrame([(7, *row)], "item_id int, bytes binary, format string")
    assert {r.item_id for r in call(df).collect()} == {"7"}


def test_row_operators_keep_ids_exact_next_to_null_ids(spark):
    """A NULL id in the same batch does not change the other ids: an int
    item_id stays '7' (not '7.0') and a bigint doc_id above 2**53 keeps
    its last bit (no round trip through float64)."""
    img = spark.createDataFrame([(7, _IMG, "fake8x8"), (None, _IMG, "fake8x8")],
                                "item_id int, bytes binary, format string").coalesce(1)
    assert {r.item_id for r in MM.image_features(img).collect()} == {"7", None}
    docs = spark.createDataFrame([(2**53 + 1, "ab"), (None, "cd")],
                                 "doc_id bigint, text string").coalesce(1)
    assert {r.doc_id for r in TX.compression_ratio(docs, "doc_id", "text").collect()} \
        == {2**53 + 1, None}
