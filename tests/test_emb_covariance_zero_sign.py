"""``q_emb_covariance`` vs its DuckDB oracle cell for cell, sign of zero
included.

``tools/check_oracle.py`` compares floats with ``allclose``, which treats
-0.0 and 0.0 as equal; a hash of the values does not. A covariance that
rounds to zero from below is -0.0 unless both engines normalize it, so
every cell is compared exactly and with ``np.signbit``.
"""

from __future__ import annotations

import duckdb
import numpy as np

SF = "/root/testdata/sf0.01"


def test_q_emb_covariance_cells_and_zero_signs_match_oracle(spark):
    import __spark_entry__ as e

    got = e.queries()["q_emb_covariance"](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')")
    want = con.execute(e.oracle_sql()["q_emb_covariance"]).fetchdf()

    got = got.sort_values(["i", "j"]).reset_index(drop=True)
    want = want.sort_values(["i", "j"]).reset_index(drop=True)
    assert len(got) == len(want) == 64 * 65 // 2
    assert (got[["i", "j"]].values == want[["i", "j"]].values).all()
    s, o = got["cov"].to_numpy(float), want["cov"].to_numpy(float)
    assert (s == o).all()
    assert (np.signbit(s) == np.signbit(o)).all()
    assert (s == 0.0).any()  # the zero cells the sign check is about
