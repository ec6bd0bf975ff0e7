import copy

import pyarrow.parquet as pq

import datagen
import tablecheck


def read_all(d):
    return {t: pq.read_table(d / f"{t}.parquet") for t in tablecheck.TABLES}


def test_tables_are_fixed(tmp_path):
    counts = datagen.generate(str(tmp_path / "a"), sf=0.001)
    datagen.generate(str(tmp_path / "b"), sf=0.001)
    a, b = read_all(tmp_path / "a"), read_all(tmp_path / "b")
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == counts["lineitem"] == 6000
    assert a["documents"].num_rows == 500


def test_other_data_seed_other_tables(tmp_path):
    datagen.generate(str(tmp_path / "a"), sf=0.001, seed=5)
    datagen.generate(str(tmp_path / "b"), sf=0.001, seed=6)
    a, b = read_all(tmp_path / "a"), read_all(tmp_path / "b")
    assert not a["events"].equals(b["events"])
    assert a["events"].schema.equals(b["events"].schema)


def test_tablecheck_reports_only_real_differences(tmp_path):
    datagen.generate(str(tmp_path), sf=0.001)
    ref = tablecheck.profile(str(tmp_path))
    assert tablecheck.differences(ref, ref, tol=0.0) == []
    assert ref["documents"]["text"]["dup_marked_share"] == 0.05
    gen = copy.deepcopy(ref)
    gen["orders"]["rows"] += 1
    gen["lineitem"]["columns"]["l_quantity"]["mean"] *= 1.2
    diffs = tablecheck.differences(ref, gen, tol=0.05)
    assert [d.split(":")[0] for d in diffs] == ["orders.rows", "lineitem.l_quantity.mean"]
