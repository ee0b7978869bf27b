"""Decontamination + PII redaction + quality scoring operators
(operators/curation.py)."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from dle.operators.curation import (PII_PATTERNS, decontaminate,
                                    quality_score, redact_pii,
                                    shingle_expr)


def _shingles(text: str, n: int = 3) -> set:
    ts = text.split(" ")
    return {" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_matches_bruteforce(spark):
    corpus = [
        (0, "a b c d e f g h"),            # shares 3 shingles w/ bench 100
        (1, "a b c x y z q r"),            # shares 1 shingle  (below min)
        (2, "p q r s t u v w x y"),        # no overlap
        (3, "a b c d e f g h i j"),        # shares w/ both bench docs
        (4, "x y"),                        # too short: no 3-grams
    ]
    bench = [
        (100, "a b c d e f"),
        (101, "d e f g h i j k"),
    ]
    got = {r["doc_id"]: (r["n_bench"], r["max_shared"], r["sum_shared"])
           for r in decontaminate(_docs(spark, corpus),
                                  _docs(spark, bench),
                                  min_shared=3).collect()}
    # brute force
    want = {}
    for did, text in corpus:
        sh = _shingles(text)
        per = [len(sh & _shingles(bt)) for _, bt in bench]
        hits = [c for c in per if c >= 3]
        if hits:
            want[did] = (len(hits), max(hits), sum(hits))
    assert got == want
    assert 4 not in got and 1 not in got and 2 not in got


def test_contamination_report_transposes_decontaminate(spark):
    """Per-bench rollup is the exact transpose of the per-corpus one:
    same matched-pair set, so the pair counts and shared sums agree;
    untouched and sub-n-token bench docs survive with zeros."""
    from dle.operators.curation import contamination_report
    corpus = [
        (0, "a b c d e f g h"),
        (1, "a b c x y z q r"),
        (3, "a b c d e f g h i j"),
        (4, "x y"),
    ]
    bench = [
        (100, "a b c d e f"),
        (101, "d e f g h i j k"),
        (102, "zz yy xx ww vv"),   # no overlap -> zeros
        (103, "a b"),              # too short -> zeros
    ]
    rep = {r["bench_id"]: (r["n_contaminating"], r["max_shared"],
                           r["sum_shared"])
           for r in contamination_report(_docs(spark, corpus),
                                         _docs(spark, bench),
                                         min_shared=3).collect()}
    dec = decontaminate(_docs(spark, corpus), _docs(spark, bench),
                        min_shared=3).collect()
    # brute force per bench doc
    want = {}
    for bid, bt in bench:
        hits = [len(_shingles(t) & _shingles(bt)) for _, t in corpus]
        hits = [c for c in hits if c >= 3]
        want[bid] = ((len(hits), max(hits), sum(hits)) if hits
                     else (0, 0, 0))
    assert rep == want
    assert len(rep) == len(bench)
    # transpose identities against decontaminate
    assert (sum(v[0] for v in rep.values())
            == sum(r["n_bench"] for r in dec))
    assert (sum(v[2] for v in rep.values())
            == sum(r["sum_shared"] for r in dec))


def test_decontaminate_plan_broadcasts_bench(spark):
    """The bench side must be a broadcast join — a sort-merge join here
    would shuffle the corpus-side shingle stream (corpus-sized exchange
    at 100 TB)."""
    df = _docs(spark, [(i, "a b c d e f") for i in range(20)])
    plan = decontaminate(df, df.limit(5), min_shared=1)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_build_starts_no_job(spark):
    """Building the frame runs nothing: the join strategy is the
    planner's, so no size probe of the bench side starts a job."""
    sc = spark.sparkContext
    df = _docs(spark, [(i, "a b c d e f") for i in range(20)])
    group = "decon-build"
    sc.setJobGroup(group, group)
    try:
        out = decontaminate(df, df.limit(5), min_shared=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert out.count() == 20


def test_shingle_expr_distinct_and_short_docs(spark):
    df = _docs(spark, [(0, "a b a b a b"), (1, "a b")])
    out = {r["doc_id"]: sorted(r["sh"]) for r in df.select(
        "doc_id", F.expr(shingle_expr(3)).alias("sh")).collect()}
    assert out[0] == ["a b a", "b a b"]   # duplicates collapsed
    assert out[1] == []                    # sequence(0, -1) -> empty


def test_redact_pii_counts_and_mask(spark):
    rows = [
        (0, "write bob.smith+x@mail-host.org today"),
        (1, "from 192.168.0.1 and 10.0.0.255 call 555-0199"),
        (2, "clean text only"),
        (3, "two mails a@b.io c@d.co and 1.2.3.4"),
    ]
    got = {r["doc_id"]: r for r in redact_pii(_docs(spark, rows)).collect()}
    pats = {name: re.compile(pat) for name, pat, _ in PII_PATTERNS}
    for did, text in rows:
        r = got[did]
        assert r["n_email"] == len(pats["email"].findall(text)), did
        # ipv4/phone counts are on the ORIGINAL text (emails intact)
        assert r["n_ipv4"] == len(pats["ipv4"].findall(text)), did
        assert r["n_phone"] == len(pats["phone"].findall(text)), did
        want = text
        for name, pat, repl in PII_PATTERNS:
            want = re.sub(pat, repl, want)
        assert r["redacted"] == want, did
    assert got[2]["redacted"] == "clean text only"
    assert "<EMAIL>" in got[0]["redacted"]
    assert got[1]["redacted"].count("<IP>") == 2
    assert "<PHONE>" in got[1]["redacted"]


def test_quality_score_matches_reference_impl(spark):
    """Engine score == a plain-Python reimplementation of the hashed
    linear model (md5 bucket -> closed-form integer weight), including
    the empty-string token a blank doc produces."""
    rows = [(0, "the quick brown fox"), (1, "spam spam spam"),
            (2, ""), (3, "one"), (4, "a b c the the")]

    def weight(tok: str) -> int:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 256
        return b * 2654435761 % 2001 - 1000

    got = {r["doc_id"]: (r["q_n_tokens"], r["q_score_sum"])
           for r in quality_score(_docs(spark, rows)).collect()}
    for did, text in rows:
        toks = text.split(" ")
        assert got[did] == (len(toks), sum(weight(t) for t in toks)), did


def test_stream_decontaminate_multibatch_equals_batch(spark, tmp_path):
    """Two forced micro-batches (maxFilesPerTrigger=1 over two staged
    parquet files) produce exactly the batch operator's result — the
    zero-cross-batch-state claim in stream_decontaminate's docstring,
    proven, not assumed."""
    from dle.streaming import stream_decontaminate

    corpus = [(0, "a b c d e f g h"), (1, "a b c x y z q r"),
              (3, "a b c d e f g h i j"), (7, "p q r s t u v")]
    bench_rows = [(100, "a b c d e f"), (101, "d e f g h i j k")]
    # two files -> two micro-batches under maxFilesPerTrigger=1
    src = tmp_path / "src"
    _docs(spark, corpus[:2]).coalesce(1).write.mode("overwrite") \
        .parquet(str(src / "p0"))
    _docs(spark, corpus[2:]).coalesce(1).write.mode("append") \
        .parquet(str(src / "p0"))
    bench = _docs(spark, bench_rows)

    rows: list = []
    stream_decontaminate(spark, str(src / "p0"), str(tmp_path / "ck"),
                         bench, rows, max_files=1, min_shared=3)
    got = {r["doc_id"]: (r["n_bench"], r["max_shared"], r["sum_shared"])
           for r in rows}
    want = {r["doc_id"]: (r["n_bench"], r["max_shared"], r["sum_shared"])
            for r in decontaminate(_docs(spark, corpus), bench,
                                   min_shared=3).collect()}
    assert got == want and 0 in got and 3 in got


def test_quality_score_trained_weights(spark):
    """Real-weights swap (VERDICT r5 #8): a non-closed-form weight
    table scores via element_at over an inline literal array; values
    match a plain-Python reimplementation and the plan shape is
    UNCHANGED — still zero exchanges."""
    rows = [(0, "the quick brown fox"), (1, "spam spam spam"),
            (2, ""), (3, "one")]
    # deliberately non-closed-form "trained" table
    weights = [((7 * b * b + 13 * b) % 1999) - 999 for b in range(256)]

    def score(tok: str) -> int:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 256
        return weights[b]

    scored = quality_score(_docs(spark, rows), weights=weights)
    got = {r["doc_id"]: (r["q_n_tokens"], r["q_score_sum"])
           for r in scored.collect()}
    for did, text in rows:
        toks = text.split(" ")
        assert got[did] == (len(toks), sum(score(t) for t in toks)), did
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    import pytest
    with pytest.raises(ValueError):
        quality_score(_docs(spark, rows), weights=[1, 2, 3])


def test_quality_score_plan_is_scan_side(spark):
    """The scoring pass must add zero exchanges — it is a pure
    projection over the scan."""
    df = _docs(spark, [(i, "a b c") for i in range(10)])
    plan = quality_score(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
