"""Edge-case parity for the web-corpus curation queries: the sf0.01
gate exercises realistic documents; these fixtures pin the degenerate
shapes (empty text, single token, trailing-space empty tokens, partial
tail chunks, exact duplicates) on BOTH engines."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from dle import queries_web as w
from dle.resultcheck import compare

SF_SMOKE = "/root/testdata/sf0.001"

EDGE_DOCS = [
    (0, "", "en", "edge", 0),
    (1, "a", "en", "edge", 1),
    (2, "a a", "en", "edge", 3),
    (3, "a b c d e f g h i", "en", "edge", 17),
    (4, "a b c d e f g h i", "fr", "edge", 17),   # exact dup of 3
    (5, "x y ", "de", "edge", 4),                 # trailing empty token
    (6, "q q q q q q q q q q", "en", "edge", 19),  # one-token spam
]


@pytest.fixture(scope="module")
def edge_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    pd.DataFrame(
        EDGE_DOCS,
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(d / "documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck(edge_sf):
    con = duckdb.connect()
    con.execute(f"create view documents as select * from"
                f" '{edge_sf}/documents.parquet'")
    return con


@pytest.mark.parametrize("name", ["text_repetition", "dedup_chunk_shared",
                                  "vocab_topk"])
def test_edge_parity(spark, edge_sf, duck, name):
    qfn, ofn = w.WEB_QUERIES[name]
    sdf = qfn(spark, edge_sf)
    assert compare(sdf.columns, sdf.collect(), sdf.schema,
                   duck.sql(ofn())) == []


def test_repetition_semantics(spark, edge_sf):
    rows = {r["doc_id"]: r for r in
            w.q_text_repetition(spark, edge_sf).collect()}
    # docs 0/1 excluded (fewer than 2 tokens)
    assert set(rows) == {2, 3, 4, 5, 6}
    assert rows[2]["top_token_n"] == 2 and rows[2]["dup_frac_c"] == 50
    assert rows[6]["top_token_n"] == 10 and rows[6]["top_bigram_n"] == 9
    # all-distinct doc: no dups, every run length 1
    assert rows[3]["dup_frac_c"] == 0 and rows[3]["top_token_n"] == 1


def test_pack_sequences_invariants(spark):
    """Two-pass prefix sum on real multi-partition input: conservation
    (last cum_prev + n_tok = total tokens), per-doc consistency, and
    genuine multi-partition execution (the partition-offset pass must
    actually compose, not degenerate to one partition)."""
    from dle.operators.packing import pack_sequences
    from dle.sqlgen import register_tables
    from pyspark.sql import functions as F

    register_tables(spark, SF_SMOKE)
    docs = spark.table("documents").select(
        "doc_id", F.expr("size(split(text, ' '))").alias("n_tok"))
    parted = docs.repartitionByRange("doc_id")
    assert parted.rdd.getNumPartitions() > 1
    rows = sorted(pack_sequences(docs, 64).collect(),
                  key=lambda r: r["doc_id"])
    total = sum(r["n_tok"] for r in rows)
    cum = 0
    for r in rows:
        assert r["cum_prev"] == cum
        assert r["seq_id"] == cum // 64
        assert r["offset_in_seq"] == cum % 64
        cum += r["n_tok"]
    assert cum == total


def test_chunk_dedup_semantics(spark, edge_sf):
    rows = w.q_dedup_chunk_shared(spark, edge_sf).collect()
    # docs 3 and 4 are byte-identical: both their full 8-token chunk
    # and the 1-token tail chunk are shared across >= 2 distinct docs
    assert len(rows) == 2
    for r in rows:
        assert r["n_docs"] == 2 and r["keeper_doc_id"] == 3
