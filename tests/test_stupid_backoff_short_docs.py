"""Regression: stupid_backoff_logprob on documents SHORTER than the
n-gram order.

Spark's sequence(1, 0) is DESCENDING [1, 0], so the unguarded trigram
expansion emitted i=0 for 0/1/2-token docs and element_at(tk, 0) raised
"SQL array indices start at 1" — crashing the whole query; and the i=1
row of a 2-token doc would emit a null-w3 trigram the DuckDB oracle
(whose range(1, 1) is empty) never produces.  The fixture corpus only
has long documents, so this was latent.  Here we plant empty, 1-token
and 2-token docs on BOTH sides of the md5 train/score split and require
the Spark result to hash-match the registered oracle.
"""

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from oracle_check import canonicalize, value_hash  # noqa: E402

from hadoop_20_spark.queries import REGISTRY  # noqa: E402


def test_stupid_backoff_short_docs_match_oracle(spark, tmp_path):
    texts = [
        "",  # 0 tokens
        "alpha",  # 1 token
        "alpha beta",  # 2 tokens (one short of trigram order)
        "alpha beta gamma",  # exactly one trigram
        "the cat sat on the mat while the cat slept",
        "beta gamma delta epsilon zeta eta theta iota kappa",
        "x",
        "y z",
    ] * 4  # repeat so both md5-parity halves get short docs
    tbl = pa.table(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "source": ["t"] * len(texts),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    q = REGISTRY["stupid_backoff_logprob"]
    sdf = q.fn(spark, str(tmp_path)).toPandas()
    spark.catalog.clearCache()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    odf = con.execute(q.oracle).fetchdf()

    assert len(sdf) and len(sdf) == len(odf)
    assert value_hash(canonicalize(sdf)) == value_hash(canonicalize(odf))
