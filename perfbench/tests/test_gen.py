"""The input generator is a pure function of (workload, seed, size)."""

import filecmp
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

FILES = {
    "cdm": ["events.parquet", "target.parquet", "planted.json"],
    "curate": ["documents.parquet", "embeddings.parquet"],
}


@pytest.mark.parametrize("workload", sorted(FILES))
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.build(workload, 7, "tiny", str(tmp_path / "a"))
    b = gen.build(workload, 7, "tiny", str(tmp_path / "b"))
    assert a == b
    for f in FILES[workload]:
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False), f


@pytest.mark.parametrize("workload", sorted(FILES))
def test_other_seed_other_data(tmp_path, workload):
    gen.build(workload, 7, "tiny", str(tmp_path / "a"))
    gen.build(workload, 8, "tiny", str(tmp_path / "b"))
    f = FILES[workload][0]
    ta = pq.read_table(tmp_path / "a" / f)
    tb = pq.read_table(tmp_path / "b" / f)
    assert ta.schema == tb.schema
    assert not ta.equals(tb)


def test_shape_records_sizes_and_rates(tmp_path):
    shape = gen.build("cdm", 3, "tiny", str(tmp_path))
    assert shape["rows"]["events"] == gen.SIZES["tiny"]["events"]
    assert shape["delete_rate"] == gen.DELETE_RATE
    with open(tmp_path / "planted.json") as fh:
        planted = json.load(fh)
    assert len(planted["missing"]) == shape["planted_missing"] > 0
    assert shape["rows"]["target"] == shape["rows"]["events"] - shape["planted_missing"]
    assert not {tuple(r) for r in planted["missing"]} & {tuple(r) for r in planted["mismatch"]}
    shape = gen.build("curate", 3, "tiny", str(tmp_path / "c"))
    assert shape["near_dup_rate"] == gen.NEAR_DUP_RATE
    assert shape["rows"] == {
        "documents": gen.SIZES["tiny"]["documents"],
        "embeddings": gen.SIZES["tiny"]["embeddings"],
    }


def test_cache_reuses_generated_inputs(tmp_path):
    path, shape = gen.cached("curate", 5, "tiny", str(tmp_path))
    stamp = os.stat(os.path.join(path, "documents.parquet")).st_mtime_ns
    again, shape2 = gen.cached("curate", 5, "tiny", str(tmp_path))
    assert (again, shape2) == (path, shape)
    assert os.stat(os.path.join(path, "documents.parquet")).st_mtime_ns == stamp
