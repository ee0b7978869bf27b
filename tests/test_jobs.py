"""CLI job + components-operator coverage (round 4)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]


def test_connected_components_chain_and_island(spark):
    """Chain a-b-c collapses to one component under min-label
    propagation (transitive), island pair stays separate; nodes in no
    pair are absent."""
    from dle.operators.components import connected_components
    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (20, 21)], "doc_a bigint, doc_b bigint")
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {2: 2, 5: 2, 9: 2, 20: 20, 21: 20}


def test_connected_components_driver_matches_distributed(
        spark, monkeypatch):
    """The driver union-find dispatch (edges under DRIVER_MAX_EDGES)
    and the distributed min-label propagation (forced with the cap at
    0) produce identical (node, component) sets on a graph with
    chains, a cycle, and islands."""
    from dle.operators import components
    from dle.operators.components import connected_components
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21),
             (30, 31), (31, 32), (32, 33), (33, 34)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    fast = {(r["node"], r["component"])
            for r in connected_components(pairs).collect()}
    monkeypatch.setattr(components, "DRIVER_MAX_EDGES", 0)
    slow = {(r["node"], r["component"])
            for r in connected_components(pairs).collect()}
    assert fast == slow
    assert {(3, 1), (12, 10), (21, 20), (34, 30)} <= fast


def test_dedup_survivors_end_to_end(spark):
    """Every corpus row comes back exactly once with its extra columns
    passed through; each component keeps exactly its min-id member;
    unpaired docs keep themselves."""
    from dle.operators.components import dedup_survivors
    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (20, 21)], "doc_a bigint, doc_b bigint")
    corpus = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 5, 9, 20, 21, 40)],
        "doc_id bigint, tag string")
    rows = dedup_survivors(corpus, pairs).collect()
    assert rows[0].asDict().keys() == {"doc_id", "tag",
                                       "canonical_id", "kept"}
    assert all(r["tag"] == f"t{r['doc_id']}" for r in rows)
    got = {r["doc_id"]: (r["canonical_id"], r["kept"]) for r in rows}
    assert len(rows) == 7
    assert got == {1: (1, 1), 2: (2, 1), 5: (2, 0), 9: (2, 0),
                   20: (20, 1), 21: (20, 0), 40: (40, 1)}
    # exactly one survivor per canonical id
    per = {}
    for did, (canon, kept) in got.items():
        per[canon] = per.get(canon, 0) + kept
    assert all(v == 1 for v in per.values())


def test_text_pipeline_job_end_to_end(tmp_path):
    """The spark-submit entry point runs the full curation funnel
    (eval carve-out -> exact dedup -> transitive near-dup components
    -> repetition filter -> decontamination -> stats + classifier
    score -> PII redaction -> packing) and reports a consistent
    funnel."""
    out_dir = tmp_path / "curated"
    res = subprocess.run(
        [sys.executable, "jobs/text_pipeline_job.py",
         "/root/testdata/sf0.001", str(out_dir), "80", "90", "512"],
        capture_output=True, text=True, cwd=REPO, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    line = [ln for ln in res.stdout.splitlines()
            if ln.startswith("{")][-1]
    j = json.loads(line)
    assert 0 < j["docs_out"] <= j["after_exact_dedup"] <= j["docs_in"]
    assert j["near_dup_dropped"] >= 0
    assert j["decontaminated_dropped"] >= 0
    # eval suite excluded from training output (doc_id % 11 == 3)
    assert j["eval_suite_docs"] > 0
    assert j["packed_sequences"] >= 1
    files = list(out_dir.glob("*.parquet"))
    assert files, "curated parquet written"
    # output schema carries the curation columns; text is untouched
    import duckdb
    con = duckdb.connect()
    cols = {r[0] for r in con.execute(
        f"describe select * from '{out_dir}/*.parquet'").fetchall()}
    assert {"clf_score", "text_redacted", "n_email", "n_ipv4",
            "n_phone", "seq_id", "offset_in_seq"} <= cols
    (n_eval,) = con.execute(
        f"select count(*) from '{out_dir}/*.parquet'"
        " where doc_id % 11 = 3").fetchone()
    assert n_eval == 0


def test_process_vector_job_reruns_from_stage_records(tmp_path):
    """The process-vector entry point run twice into one out dir: the
    rerun resumes both checkpointed stages (their records stay byte for
    byte), reports the same qa rollup, and both runs dump quadkey cells
    with their leading zeros (depth 2: every cell is 2 characters)."""
    out_dir = tmp_path / "pv"
    records = [out_dir / "stages" / "manifest" / "precedence.manifest.jsonl",
               out_dir / "manifest" / "planarized.manifest.jsonl"]

    def run():
        res = subprocess.run(
            [sys.executable, "jobs/process_vector_job.py",
             SF_SMOKE, str(out_dir), "2"],
            capture_output=True, text=True, cwd=REPO, timeout=600)
        assert res.returncode == 0, res.stderr[-2000:]
        cells = [p.name.removeprefix("cell=") for p in
                 (out_dir / "designatedlands").glob("cell=*")]
        return ([p.read_bytes() for p in records],
                json.loads((out_dir / "qa.json").read_text()), cells)

    recs1, qa1, cells1 = run()
    recs2, qa2, cells2 = run()
    assert recs2 == recs1
    assert qa2 == qa1
    assert cells1 and cells2
    assert all(len(c) == 2 for c in cells1 + cells2), (cells1, cells2)
