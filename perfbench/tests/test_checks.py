import os

import duckdb
import pyarrow.parquet as pq

import __spark_entry__ as entry
from perfbench import checks, inputs


def test_near_duplicate_pairs_equal_the_minhash_oracle_sql(tmp_path):
    inputs.write_curation_tables(str(tmp_path), 4, n_docs=400, n_vecs=10,
                                 n_events=10, n_users=5)
    path = os.path.join(tmp_path, "documents.parquet")
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = con.sql(entry.SQL_MINHASH_NEAR_DUPS).df()
    finally:
        con.close()
    got = checks.near_duplicate_pairs(pq.read_table(path).to_pandas())
    assert len(want) > 0
    assert checks.digest(got) == checks.digest(want)
