"""Decontamination + inter-document boilerplate scrub.

The driver gate sits at its 50-entry cap (CLAUDE.md), so these
operators are verified by IN-PYTEST DuckDB twins at the gate's rigor —
full sorted-row value equality on the real sf0.001 documents table —
plus planted unit tests and physical-plan audits of the
broadcast/zero-corpus-shuffle shapes.
"""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from v2_ocr_spark.fixtures.oracle_expected import round6

from v2_ocr_spark.operators.corpus import (
    boilerplate_lines_for,
    decontaminate,
    decontaminate_for,
    scrub_boilerplate_for,
)

SF = "/root/testdata/sf0.001"


def _shingle_sql(n: int) -> str:
    # same word-shingle idiom as __spark_entry__._shingle_ctes (which
    # is pinned n=3 for the gate), parametrized on n: slice [i:i+n-1]
    # is inclusive in DuckDB, so it spans n tokens
    return (
        "unnest(list_distinct(list_transform("
        f"range(1, greatest(len(string_split(text, ' ')) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(string_split(text, ' ')[i:i+{n - 1}], ' '))))"
    )


def test_decontaminate_matches_duckdb_twin(spark, documents):
    got = [
        (r.doc_id, r.n_shingles, r.bench_hits, r.hit_frac, r.contaminated)
        for r in decontaminate(documents).orderBy("doc_id").collect()
    ]
    n = 5
    sql = f"""
    WITH bsh AS MATERIALIZED (
      SELECT DISTINCT shingle FROM (
        SELECT {_shingle_sql(n)} AS shingle
        FROM read_parquet('{SF}/documents.parquet')
        WHERE source IS NOT DISTINCT FROM 'src0' AND text IS NOT NULL)),
    dsh AS MATERIALIZED (
      SELECT doc_id, {_shingle_sql(n)} AS shingle
      FROM read_parquet('{SF}/documents.parquet')
      WHERE source IS DISTINCT FROM 'src0' AND text IS NOT NULL),
    agg AS (
      SELECT d.doc_id, count(*) AS n_shingles,
             count(b.shingle) AS bench_hits
      FROM dsh d LEFT JOIN bsh b ON d.shingle = b.shingle
      GROUP BY d.doc_id)
    SELECT t.doc_id,
      CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
      CAST(coalesce(a.bench_hits, 0) AS BIGINT) AS bench_hits,
      round(CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 0.0
            ELSE CAST(a.bench_hits AS DOUBLE) / a.n_shingles END,
            6) AS hit_frac,
      coalesce(a.bench_hits, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM read_parquet('{SF}/documents.parquet')
          WHERE source IS DISTINCT FROM 'src0') t
    LEFT JOIN agg a USING (doc_id)
    ORDER BY t.doc_id
    """
    exp = [tuple(r) for r in duckdb.sql(sql).fetchall()]
    assert got == exp
    assert len(got) == 475  # every non-benchmark doc reported


def test_decontaminate_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text with no overlap whatsoever here"),
            (3, None),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps over everything")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in decontaminate_for(docs, bench).collect()}
    assert len(rows) == 3
    # doc 1 shares exactly 2 of its 6 5-gram shingles with the benchmark
    assert rows[1].contaminated
    assert rows[1].n_shingles == 6 and rows[1].bench_hits == 2
    assert rows[1].hit_frac == round6(2 / 6)
    assert not rows[2].contaminated and rows[2].bench_hits == 0
    # NULL-text doc: kept in the report with zero shingles, not flagged
    assert rows[3].n_shingles == 0 and not rows[3].contaminated
    assert rows[3].hit_frac == 0.0


def test_decontaminate_self_is_total(spark):
    # benchmark == corpus: every one of a doc's shingles is in the
    # bench set by construction, so hit_frac is exactly 1.0 for every
    # text-bearing doc — a containment invariant no fixture can fake.
    # The subtree is re-executed per pass inside decontaminate_for, so
    # the 50-doc slice must be deterministic (bare LIMIT is not).
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .orderBy("doc_id")
        .limit(50)
    )
    rows = decontaminate_for(docs, docs).collect()
    assert len(rows) == 50
    for r in rows:
        if r.n_shingles:
            assert r.bench_hits == r.n_shingles
            assert r.hit_frac == 1.0 and r.contaminated
        else:
            assert not r.contaminated


def test_decontaminate_null_source_is_training_side(spark, tmp_path):
    # a NULL-source doc is NOT the benchmark: it lands on the training
    # side and stays in the report. The plain != / == split evaluated
    # NULL on both predicates and silently dropped it from BOTH sides.
    text = "the quick brown fox jumps over the lazy dog"
    spark.createDataFrame(
        [(1, "src0", text), (2, "src1", text), (3, None, text)],
        "doc_id bigint, source string, text string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r.doc_id: r
        for r in decontaminate(
            spark.read.parquet(f"{tmp_path}/documents.parquet")
        ).collect()
    }
    assert set(rows) == {2, 3}
    assert rows[3].contaminated and rows[3].hit_frac == 1.0


def test_decontaminate_plan_broadcasts_benchmark(spark, documents):
    p = (
        decontaminate(documents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one shingle pass per side, nothing else drops into Python
    assert p.count("MapInPandas") == 2
    # the eval-set shingle table is the broadcast side; the corpus side
    # never shuffles before its single map-side-partial doc_id agg
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p


# ---------------------------------------------------------------------------
# scrub_boilerplate — corpus-wide boilerplate-line removal


def _scrub_twin_sql(path: str, min_docs: int) -> str:
    # the (x, i) list_transform lambda carries the 1-based position the
    # same way the dedup_lines gate oracle does; ANTI JOIN drops every
    # occurrence of a boilerplate line
    return f"""
    WITH l AS MATERIALIZED (
      SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
        (x, i) -> struct_pack(line := x, pos := i))) AS t
      FROM read_parquet('{path}/*.parquet') WHERE text IS NOT NULL),
    lines AS MATERIALIZED (
      SELECT doc_id, t.line AS line, t.pos AS pos FROM l),
    boiler AS MATERIALIZED (
      SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
      GROUP BY line HAVING count(*) >= {min_docs}),
    agg AS (
      SELECT doc_id, count(*) AS kept_lines,
             string_agg(line, chr(10) ORDER BY pos) AS scrubbed_text
      FROM lines ANTI JOIN boiler USING (line)
      GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(len(string_split(d.text, chr(10))) AS INT) AS n_lines,
      CAST(coalesce(a.kept_lines, 0) AS INT) AS kept_lines,
      coalesce(a.scrubbed_text, '') AS scrubbed_text
    FROM read_parquet('{path}/*.parquet') d LEFT JOIN agg a USING (doc_id)
    WHERE d.text IS NOT NULL
    ORDER BY d.doc_id
    """


@pytest.fixture()
def boiler_corpus(spark, tmp_path):
    """The real sf0.001 documents with deterministically injected
    site boilerplate: one banner + one blank separator shared by all
    500 docs, a per-source footer shared by ~25 docs each (20
    sources), the original single-line text kept unique per doc —
    plus a NULL-text and an ''-text doc. sf0.001 texts have no
    newlines and no cross-doc duplicate lines (probed), so without
    injection the scrub path would be vacuous."""
    path = f"{tmp_path}/documents.parquet"
    raw = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    injected = raw.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("COOKIE BANNER accept all cookies"),
            F.lit(""),
            F.col("text"),
            F.concat(F.lit("(c) footer "), F.col("source")),
        ).alias("text"),
    )
    extra = spark.createDataFrame(
        [(900001, None), (900002, "")], "doc_id bigint, text string"
    )
    injected.unionByName(extra).write.parquet(path)
    return path


def test_scrub_boilerplate_matches_duckdb_twin(spark, boiler_corpus):
    got = [
        (r.doc_id, r.n_lines, r.kept_lines, r.scrubbed_text)
        for r in scrub_boilerplate_for(spark.read.parquet(boiler_corpus))
        .orderBy("doc_id").collect()
    ]
    exp = [tuple(r) for r in duckdb.sql(
        _scrub_twin_sql(boiler_corpus, 3)).fetchall()]
    assert got == exp
    # non-vacuous: the 500 injected docs each lose banner + blank +
    # footer (3 of 4 lines) and keep their unique original line
    assert len(got) == 501  # NULL-text doc excluded, ''-doc kept
    injected = [r for r in got if r[0] < 900000]
    assert all(r[1] == 4 and r[2] == 1 for r in injected)
    # the ''-text doc: its single '' line collides with the injected
    # blank separator (501 docs) -> fully scrubbed, kept as (1, 0, '')
    empty = next(r for r in got if r[0] == 900002)
    assert empty == (900002, 1, 0, "")


def test_boilerplate_lines_report_matches_duckdb(spark, boiler_corpus):
    docs = spark.read.parquet(str(boiler_corpus))
    got = sorted(
        (r.line, r.doc_freq)
        for r in boilerplate_lines_for(docs, min_docs=3).collect()
    )
    exp = sorted(duckdb.sql(f"""
        SELECT line, count(*) AS doc_freq FROM (
          SELECT DISTINCT doc_id, unnest(string_split(text, chr(10)))
            AS line
          FROM read_parquet('{boiler_corpus}/*.parquet')
          WHERE text IS NOT NULL)
        GROUP BY line HAVING count(*) >= 3
    """).fetchall())
    assert got == exp
    # banner + blank + 20 per-source footers
    assert len(got) == 22


def test_scrub_boilerplate_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "BOILER\nunique one\nBOILER"),
            (2, "BOILER\nunique two"),
            (3, "BOILER"),
            (4, None),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r for r in scrub_boilerplate_for(docs, min_docs=3).collect()
    }
    # NULL-text doc excluded; every text-bearing doc reported
    assert set(rows) == {1, 2, 3, 5}
    # within-doc repeat counts ONCE toward doc_freq (3 docs, not 4)…
    # …but ALL its occurrences are scrubbed
    assert (rows[1].n_lines, rows[1].kept_lines) == (3, 1)
    assert rows[1].scrubbed_text == "unique one"
    assert rows[2].scrubbed_text == "unique two"
    # fully-scrubbed doc stays in the output as (1, 0, '')
    assert (rows[3].n_lines, rows[3].kept_lines, rows[3].scrubbed_text) == (
        1, 0, "")
    # the ''-doc's '' line appears in only 1 doc -> kept: (1, 1, '')
    assert (rows[5].n_lines, rows[5].kept_lines, rows[5].scrubbed_text) == (
        1, 1, "")


def test_scrub_boilerplate_rejects_degenerate_threshold(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="min_docs"):
        scrub_boilerplate_for(docs, min_docs=1)


def test_scrub_boilerplate_plan(spark, documents):
    p = (
        scrub_boilerplate_for(documents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # pure JVM: split/explode are codegen, nothing drops into Python
    assert "MapInPandas" not in p and "BatchEvalPython" not in p
    # the drop set is the broadcast side of a left-anti join — never
    # the corpus-scale keep side
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    # ordered reassembly is the collect_list ObjectHashAggregate
    assert "ObjectHashAggregate" in p


def test_scrub_boilerplate_randomized_differential(spark):
    """20 seeded random corpora with mostly-disjoint line alphabets
    unioned into one documents table, compared against a pure-Python
    run of the spec over the SAME union (the '' line is shared across
    corpora by construction — an early version computed expectations
    per corpus and this very test caught the cross-corpus ''
    collision) — within-doc repeated lines (count once toward
    doc_freq, all occurrences scrubbed), fully-scrubbed docs,
    ''-only docs, per-doc unique survivors."""
    import random

    rng = random.Random(7)
    all_docs: dict[int, str | None] = {}
    for ci in range(20):
        prefix = chr(ord("a") + ci % 26) + chr(ord("a") + ci // 26)
        lines = [prefix + s for s in ("xx", "yy", "zz")] + [""]
        corpus: dict[int, str | None] = {}
        for d in range(7):
            did = ci * 1000 + d
            if d == 6:
                corpus[did] = None  # NULL-text doc: excluded
            else:
                n = rng.randint(0, 6)
                picked = [rng.choice(lines) for _ in range(n)]
                if d % 2 == 0:
                    # per-doc unique line: survives every scrub, so
                    # the intact-doc and partial-scrub regimes occur
                    picked.append(f"{prefix}unique{d}")
                corpus[did] = "\n".join(picked)
        all_docs.update(corpus)

    min_docs = 2

    def py_scrub(corpus):
        texts = {d: t for d, t in corpus.items() if t is not None}
        freq: dict[str, set] = {}
        for d, t in texts.items():
            for line in t.split("\n"):
                freq.setdefault(line, set()).add(d)
        boiler = {l for l, ds in freq.items() if len(ds) >= min_docs}
        out = []
        for d, t in texts.items():
            ls = t.split("\n")
            kept = [l for l in ls if l not in boiler]
            out.append((d, len(ls), len(kept), "\n".join(kept)))
        return out

    df = spark.createDataFrame(
        list(all_docs.items()), "doc_id bigint, text string"
    )
    got = sorted(
        (r.doc_id, r.n_lines, r.kept_lines, r.scrubbed_text)
        for r in scrub_boilerplate_for(df, min_docs=min_docs).collect()
    )
    exp = sorted(py_scrub(all_docs))
    assert got == exp
    # the regime is non-trivial: some lines scrubbed, some docs intact
    assert any(r[2] < r[1] for r in exp) and any(r[2] == r[1] for r in exp)


def test_decontaminate_randomized_differential(spark):
    """Seeded random training docs + benchmark from a shared small
    alphabet, compared against an inline pure-Python run of the spec
    (independent of _shingle_set): short docs (single truncated
    shingle), '' docs ({''} singleton), NULL docs (kept, zero
    shingles), benchmark NULLs, varying contamination levels."""
    import random

    rng = random.Random(99)
    vocab = ["red", "blue", "green", "gold", "teal", "gray", "pink"]

    def rand_text(max_n):
        n = rng.randint(0, max_n)
        return " ".join(rng.choice(vocab) for _ in range(n)) if n else ""

    docs = [
        (d, None if d % 11 == 10 else rand_text(9)) for d in range(40)
    ]
    bench = [(100 + b, None if b == 5 else rand_text(7)) for b in range(6)]
    n = 3

    def sh(text):
        toks = text.split(" ")
        return {
            " ".join(toks[i:i + n])
            for i in range(max(len(toks) - (n - 1), 1))
        }

    bench_sh = set().union(
        *(sh(t) for _, t in bench if t is not None)
    )
    exp = {}
    for d, t in docs:
        if t is None:
            exp[d] = (0, 0, 0.0, False)
            continue
        s = sh(t)
        hits = len(s & bench_sh)
        exp[d] = (
            len(s),
            hits,
            round6(hits / len(s)) if s else 0.0,
            hits >= 1,
        )

    got = {
        r.doc_id: (r.n_shingles, r.bench_hits, r.hit_frac, r.contaminated)
        for r in decontaminate_for(
            spark.createDataFrame(docs, "doc_id bigint, text string"),
            spark.createDataFrame(bench, "doc_id bigint, text string"),
            shingle_n=n,
        ).collect()
    }
    assert got == exp
    # the regime is non-trivial: contaminated and clean docs coexist
    vals = list(exp.values())
    assert any(v[3] for v in vals) and any(not v[3] and v[0] for v in vals)
