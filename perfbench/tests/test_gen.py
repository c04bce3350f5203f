"""The input generator is deterministic and a seed only reorders rows."""

import hashlib
import os

import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from perfbench import gen, oracle
from perfbench.workloads import WORKLOADS
from tinymapreduce_spark.sources.loaders import TABLES


def _digests(d):
    return {t: hashlib.sha256(open(os.path.join(d, f"{t}.parquet"), "rb").read()).hexdigest() for t in TABLES}


def test_same_seed_same_bytes(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 7)
    b = gen.write_tables(str(tmp_path / "b"), 7)
    assert _digests(a) == _digests(b)


def test_layout_and_types_follow_the_test_data(tmp_path):
    d = gen.write_tables(str(tmp_path / "d"), 3)
    for t in TABLES:
        src = pq.ParquetFile(os.path.join(gen.DATA_DIR, f"{t}.parquet"))
        out = pq.ParquetFile(os.path.join(d, f"{t}.parquet"))
        assert out.metadata.num_rows == src.metadata.num_rows
        assert [out.metadata.row_group(i).num_rows for i in range(out.metadata.num_row_groups)] == [
            src.metadata.row_group(i).num_rows for i in range(src.metadata.num_row_groups)
        ]
        assert out.schema.to_arrow_schema().equals(src.schema.to_arrow_schema(), check_metadata=True)
        assert [(c.physical_type, str(c.logical_type)) for c in out.schema] == [
            (c.physical_type, str(c.logical_type)) for c in src.schema
        ]
        assert out.metadata.row_group(0).column(0).compression == src.metadata.row_group(0).column(0).compression


def test_other_seed_reorders_rows_only(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 7)
    b = gen.write_tables(str(tmp_path / "b"), 8)
    for t in ("lineitem", "orders", "documents", "events"):
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        tb = pq.read_table(os.path.join(b, f"{t}.parquet"))
        key = ta.column_names[0]
        assert ta.column(key).to_pylist() != tb.column(key).to_pylist()
        cols = [(c, "ascending") for c in ta.column_names]
        assert ta.sort_by(cols).equals(tb.sort_by(cols))


def test_other_seed_same_oracle_results(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 7)
    b = gen.write_tables(str(tmp_path / "b"), 8)
    oracles = entrymod.oracle_sql()
    con_a, con_b = oracle.connect(a), oracle.connect(b)
    for wl in WORKLOADS.values():
        for key in wl.keys:
            ra = con_a.execute(oracles[key]).df()
            rb = con_b.execute(oracles[key]).df()
            assert oracle.mismatch(ra, rb) is None, key
            assert len(ra) > 0, key
