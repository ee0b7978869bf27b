"""Corpus-curation operators: train/eval decontamination and PII
redaction — the two standard web-text pipeline steps (C4/CCNet-style)
the engine did not yet expose as first-class operators.

Scale shapes (the 100-TB story):

* ``decontaminate`` — the benchmark/eval side is KB-MB scale in
  production (a few thousand eval documents), so Spark's planner
  broadcasts its shingle rows; the corpus side computes shingles
  in-scan (array HOF + in-task explode, no shuffle) and the broadcast
  hash join drops every non-matching shingle map-side.  The only exchange
  carries MATCHED (doc, bench, shingle) rows — bounded by actual
  contamination volume, not corpus size.  No O(corpus x bench) pair
  enumeration ever exists.
* ``redact_pii`` — pure scan-side `regexp_replace`/`regexp_extract_all`
  column expressions (JVM, whole-stage codegen, zero shuffle, zero
  Python).  At 100 TB this is exactly a map-only pass over the scan.

Reference parity note: the reference pipeline has no text curation
surface (it is a spatial overlay engine); these extend the graft's
LLM-data-pipeline operator family (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Word n-gram shingle array (distinct) as a SQL HOF expression — the
# shingle set is computed inside the scan stage (no explode until the
# candidate join needs rows).  n=3 matches the near-dup family
# (queries_text._SHINGLES) so decontamination and dedup agree on what
# "shared text" means.
def shingle_expr(n: int = 3, text_col: str = "text",
                 toks: str | None = None) -> str:
    # Pass ``toks`` = a pre-hoisted token-array COLUMN to avoid
    # re-splitting the whole text inside the transform lambda (n
    # splits per shingle — O(tokens^2) character work per doc;
    # OPTIMIZATION r7, guide §1.2 per-task work). The default inline
    # split keeps the expression self-contained for ad-hoc use.
    toks = toks or f"split({text_col}, ' ')"
    parts = ", ".join(f"{toks}[i + {j}]" for j in range(n))
    # self-guarding: Spark's sequence(0, -1) DESCENDS to [0, -1]
    # (it never returns empty), so a < n-token doc would index out of
    # bounds under ANSI mode without the size gate
    return (f"if(size({toks}) < {n}, array(),"
            f" array_distinct(transform(sequence(0, size({toks}) - {n}),"
            f" i -> concat_ws(' ', {parts}))))")


def decontaminate(corpus: DataFrame, bench: DataFrame, *, n: int = 3,
                  min_shared: int = 3, id_col: str = "doc_id",
                  bench_id_col: str = "bench_id",
                  text_col: str = "text") -> DataFrame:
    """Flag corpus documents sharing >= ``min_shared`` distinct word
    ``n``-gram shingles with any benchmark document.

    Returns one row per contaminated corpus doc:
      (id_col, n_bench, max_shared, sum_shared)
    where ``n_bench`` counts benchmark docs over the threshold,
    ``max_shared`` is the largest distinct-shingle overlap with a
    single benchmark doc, ``sum_shared`` the total across them.

    The caller supplies the two sides (e.g. train split vs eval
    split); docs shorter than ``n`` tokens cannot share an n-gram and
    are dropped on both sides.

    The shingle join is a plain equi-join on the shingle: Spark's
    planner picks its strategy from the bench side's size estimate,
    and broadcasts a KB-MB eval suite (pytest plan-asserted). Building
    the frame starts no Spark job.
    """
    ov = _overlap_pairs(corpus, bench, n=n, min_shared=min_shared,
                        id_col=id_col, bench_id_col=bench_id_col,
                        text_col=text_col)
    return ov.groupBy(id_col).agg(
        F.count("*").alias("n_bench"),
        F.max("shared").alias("max_shared"),
        F.sum("shared").alias("sum_shared"))


def _overlap_pairs(corpus: DataFrame, bench: DataFrame, *, n: int,
                   min_shared: int, id_col: str, bench_id_col: str,
                   text_col: str) -> DataFrame:
    """(id_col, bench_id_col, shared) for every corpus x bench doc
    pair sharing >= ``min_shared`` distinct word n-gram shingles —
    the physical core shared by ``decontaminate`` (per-corpus-doc
    rollup) and ``contamination_report`` (per-bench-doc rollup); the
    join strategy is Spark's, as documented on ``decontaminate``."""
    sh = shingle_expr(n, text_col, toks="_toks")
    guard = f"size(split({text_col}, ' ')) >= {n}"

    def rows(df: DataFrame, out_id: str) -> DataFrame:
        return (df.where(F.expr(guard))
                  .withColumn("_toks",
                              F.expr(f"split({text_col}, ' ')"))
                  .select(F.col(id_col).alias(out_id),
                          F.explode(F.expr(sh)).alias("_sh")))

    return (rows(corpus, id_col).join(rows(bench, bench_id_col), "_sh")
            .groupBy(id_col, bench_id_col)
            .agg(F.count("*").alias("shared"))
            .where(F.col("shared") >= min_shared))


def contamination_report(corpus: DataFrame, bench: DataFrame, *,
                         n: int = 3, min_shared: int = 3,
                         id_col: str = "doc_id",
                         bench_id_col: str = "bench_id",
                         text_col: str = "text") -> DataFrame:
    """The TRANSPOSED decontamination rollup — one row per BENCHMARK
    doc (all of them, zeros included): how many training docs leak it
    (``n_contaminating``), the largest single-doc shingle overlap
    (``max_shared``) and the total (``sum_shared``).  This is the
    table an eval owner reads to decide whether a benchmark is burnt;
    ``decontaminate`` is the table the corpus owner uses to drop rows.

    Scale shape: identical to ``decontaminate`` up to the matched-pair
    exchange (contamination-volume sized); the per-bench rollup is a
    bench-sized groupBy and the zero-fill left join broadcasts it back
    onto the (KB-MB) bench table — the corpus is still touched exactly
    once, map-side."""
    ov = _overlap_pairs(corpus, bench, n=n, min_shared=min_shared,
                        id_col=id_col, bench_id_col=bench_id_col,
                        text_col=text_col)
    per = ov.groupBy(bench_id_col).agg(
        F.count("*").alias("_n"), F.max("shared").alias("_mx"),
        F.sum("shared").alias("_sm"))
    base = bench.select(F.col(id_col).alias(bench_id_col))
    return (base.join(F.broadcast(per), bench_id_col, "left")
            .select(bench_id_col,
                    F.coalesce("_n", F.lit(0)).cast("bigint")
                    .alias("n_contaminating"),
                    F.coalesce("_mx", F.lit(0)).cast("bigint")
                    .alias("max_shared"),
                    F.coalesce("_sm", F.lit(0)).cast("bigint")
                    .alias("sum_shared")))


def quality_score(df: DataFrame, text_col: str = "text",
                  n_buckets: int = 256, scale: int = 1000,
                  score_col: str = "q_score_sum",
                  ntok_col: str = "q_n_tokens",
                  weights: list[int] | None = None) -> DataFrame:
    """Model-based quality scoring (the fastText/CCNet-style classifier
    filter stage): hashed bag-of-words -> per-bucket integer weight ->
    per-doc score sum.

    Adds ``ntok_col`` (token count) and ``score_col`` (BIGINT sum of
    per-token weights; keep/drop decisions threshold it, e.g. > 0).
    Token bucket = md5-hash % ``n_buckets`` (md5-only cross-engine
    hashing rule, dle/sqlgen.py).  With ``weights=None`` the weight
    for bucket b is the closed form (b * 2654435761) % (2*scale+1) -
    scale — an integer in [-scale, scale], standing in for trained
    weights so the gate is exactly oracle-checkable.  Passing a
    TRAINED weight table (len == ``n_buckets``, integer weights —
    quantize floats upstream) swaps the closed form for an
    element_at() lookup into a literal weight array WITHOUT changing
    the plan shape: still a pure scan-side HOF pass, zero exchanges
    (pytest plan-asserted).  Scores stay INTEGER sums (determinism
    rule: divide only at comparison boundaries).

    Scale shape: a pure HOF transform+aggregate inside the scan — no
    explode, no shuffle, no Python.  The inline-literal weight array
    is right up to a few thousand buckets (the IVF-codebook inlining
    rule, CLAUDE.md); a vocab-scale model (100k+ buckets) should use
    the broadcast-DF-join pattern (queries_text._band_sig_rows)
    instead.  At 100 TB this is a map-only pass, exactly how fastText
    filtering runs in production web pipelines.
    """
    toks = f"split({text_col}, ' ')"
    bucket = (f"(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
              f" % {n_buckets})")
    if weights is None:
        w = (f"transform({toks}, t ->"
             f" {bucket} * 2654435761 % {2 * scale + 1} - {scale})")
    else:
        if len(weights) != n_buckets:
            raise ValueError(
                f"weights must have n_buckets={n_buckets} entries,"
                f" got {len(weights)}")
        arr = ("array(" + ",".join(
            f"cast({int(x)} as bigint)" for x in weights) + ")")
        # element_at is 1-based and takes an INT index; bucket is a
        # BIGINT in [0, n_buckets)
        w = (f"transform({toks}, t ->"
             f" element_at({arr}, cast({bucket} + 1 as int)))")
    return (df
            .withColumn(ntok_col, F.expr(f"size({toks})"))
            .withColumn(score_col, F.expr(
                f"aggregate({w}, cast(0 as bigint), (a, x) -> a + x)")))


# PII patterns — written to the RE2-compatible subset (no lookaround,
# no backreferences) so Spark (java.util.regex) and DuckDB (RE2)
# match identically; replacement order is email -> ipv4 -> phone so
# the later patterns never see an address's local part or dots.
#
# KNOWN-LOSSY by design (ADVICE r5): without lookaround these stay
# deliberately narrow — the phone pattern \b\d{3}-\d{4}\b PARTIALLY
# matches longer hyphenated numbers (555-123-4567 redacts to
# 555-<PHONE> because \b fires at the interior hyphen), and the ipv4
# pattern accepts out-of-range octets (999.999.999.999). Cross-engine
# parity holds either way; production deployments should swap in
# fuller patterns (e.g. full NANP phone forms, octet range checks)
# knowing redaction fidelity here is a floor, not a ceiling.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "redacted") -> DataFrame:
    """Mask emails / IPv4 addresses / short phone numbers in
    ``text_col`` and count each category per row.

    Adds columns ``n_email, n_ipv4, n_phone`` (match counts on the
    ORIGINAL text) and ``out_col`` (the masked text).  All JVM
    scan-side expressions — zero shuffle, zero Python.
    """
    out = df
    red = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        # python-API forms take the pattern as a plain string/Column —
        # no SQL-literal backslash escaping to get wrong; idx=0 (whole
        # match) because Spark's default idx=1 throws on group-free
        # patterns
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat),
                                        F.lit(0))))
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn(out_col, red)
