"""Duplicate-substring spans (the "deduplicating training data" pass).

The driver gate sits at its 50-entry cap (CLAUDE.md), so dup_spans /
remove_dup_spans are verified by IN-PYTEST DuckDB twins at the gate's
rigor — full sorted-row value equality on the real sf0.001 documents
table (which repeats >1000 8-token shingles, so the check is
non-vacuous without injection) — plus hand-checked planted fixtures
for the within-doc-repeat, adjacent-merge, and fully-covered cases,
guard tests, and a physical-plan audit.
"""

from __future__ import annotations

import duckdb
import pytest

from v2_ocr_spark.operators.corpus import (
    dup_spans_for,
    remove_dup_spans_for,
)

SF = "/root/testdata/sf0.001"
TOKEN_RE = r"\p{L}+|\d+|[^\p{L}\d\s]+"


def _spans_cte(path: str, k: int, min_count: int) -> str:
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS t,
             generate_subscripts(
               regexp_extract_all(text, '{TOKEN_RE}'), 1) - 1 AS i
      FROM read_parquet('{path}') WHERE text IS NOT NULL),
    sh AS MATERIALIZED (
      SELECT doc_id, i AS s,
             string_agg(t, ' ') OVER w AS shingle,
             count(*) OVER w AS wid
      FROM tok
      WINDOW w AS (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND {k - 1} FOLLOWING)
      QUALIFY wid = {k}),
    dup AS MATERIALIZED (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) >= {min_count}),
    st AS (SELECT doc_id, s FROM sh SEMI JOIN dup USING (shingle)),
    isl AS (
      SELECT doc_id, s,
             sum(CASE WHEN prev IS NULL OR s > prev + {k}
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (SELECT doc_id, s,
              lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
            FROM st)),
    spans AS MATERIALIZED (
      SELECT doc_id, CAST(min(s) AS INT) AS span_start,
             CAST(max(s) + {k - 1} AS INT) AS span_end,
             CAST(max(s) - min(s) + {k} AS INT) AS span_tokens
      FROM isl GROUP BY doc_id, island)
    """


def test_dup_spans_matches_duckdb_twin(spark, documents):
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dup_spans_for(documents, k=8, min_count=2).collect()
    )
    exp = sorted(
        tuple(r)
        for r in duckdb.sql(
            _spans_cte(f"{SF}/documents.parquet", 8, 2)
            + "SELECT * FROM spans"
        ).fetchall()
    )
    assert got == exp
    # non-vacuous: the synthetic corpus repeats phrases (probed:
    # >1000 duplicate 8-shingles, merging into ~45 spans — several
    # docs are near-complete duplicates, so runs span whole docs)
    assert len(got) > 20


def test_remove_dup_spans_matches_duckdb_twin(spark, documents):
    got = sorted(
        (r.doc_id, r.n_tokens, r.dup_tokens, r.kept_text)
        for r in remove_dup_spans_for(documents, k=8, min_count=2).collect()
    )
    exp = sorted(
        tuple(r)
        for r in duckdb.sql(
            _spans_cte(f"{SF}/documents.parquet", 8, 2)
            + f"""
        , kept AS (
          SELECT tok.doc_id AS doc_id, i, t FROM tok
          ANTI JOIN spans ON tok.doc_id = spans.doc_id
            AND i >= span_start AND i <= span_end),
        agg AS (
          SELECT doc_id, count(*) AS kept_n,
                 string_agg(t, ' ' ORDER BY i) AS kept_text
          FROM kept GROUP BY doc_id),
        totals AS (
          SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id)
        SELECT d.doc_id,
          CAST(coalesce(n_tokens, 0) AS INT) AS n_tokens,
          CAST(coalesce(n_tokens, 0) - coalesce(kept_n, 0) AS INT)
            AS dup_tokens,
          coalesce(kept_text, '') AS kept_text
        FROM read_parquet('{SF}/documents.parquet') d
        LEFT JOIN totals USING (doc_id) LEFT JOIN agg USING (doc_id)
        WHERE d.text IS NOT NULL
        """
        ).fetchall()
    )
    assert got == exp
    assert len(got) == 500
    # non-vacuous: duplicated phrases actually removed somewhere
    assert any(r[2] > 0 for r in got)
    # and the pass is a scrub, not a wipe: most tokens survive
    assert sum(r[1] - r[2] for r in got) > 0.5 * sum(r[1] for r in got)


@pytest.fixture()
def planted(spark):
    return spark.createDataFrame(
        [
            # cross-doc shared phrase "aa bb cc" (middle of doc 1,
            # head of doc 2)
            (1, "pp qq rr ss aa bb cc tt uu"),
            (2, "aa bb cc vv ww"),
            # within-doc self-repeat: every 3-shingle occurs >= 2
            # times -> the whole doc is ONE span
            (3, "mm nn oo mm nn oo mm nn oo"),
            # two occurrences inside one doc with a gap -> two spans
            (4, "aa bb cc ga gb gc gd aa bb cc"),
            (5, None),
            (6, ""),
        ],
        "doc_id bigint, text string",
    )


def test_dup_spans_planted(spark, planted):
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dup_spans_for(planted, k=3, min_count=2).collect()
    )
    assert got == [
        (1, 4, 6, 3),
        (2, 0, 2, 3),
        (3, 0, 8, 9),
        (4, 0, 2, 3),
        (4, 7, 9, 3),
    ]


def test_remove_dup_spans_planted(spark, planted):
    rows = {
        r.doc_id: r
        for r in remove_dup_spans_for(planted, k=3, min_count=2).collect()
    }
    # NULL-text excluded, ''-doc kept as a zero-token row
    assert set(rows) == {1, 2, 3, 4, 6}
    assert (rows[1].n_tokens, rows[1].dup_tokens, rows[1].kept_text) == (
        9, 3, "pp qq rr ss tt uu")
    assert (rows[2].n_tokens, rows[2].dup_tokens, rows[2].kept_text) == (
        5, 3, "vv ww")
    # fully-covered doc stays as (n, n, '')
    assert (rows[3].n_tokens, rows[3].dup_tokens, rows[3].kept_text) == (
        9, 9, "")
    assert (rows[4].n_tokens, rows[4].dup_tokens, rows[4].kept_text) == (
        10, 6, "ga gb gc gd")
    assert (rows[6].n_tokens, rows[6].dup_tokens, rows[6].kept_text) == (
        0, 0, "")


def _py_dup_spans(docs: dict[int, list[str]], k: int, min_count: int):
    """Direct pure-Python implementation of the dup_spans spec:
    total-occurrence shingle counts, covered intervals [s, s+k-1],
    adjacency-merge (new span when s > prev + k)."""
    from collections import Counter

    counts = Counter(
        tuple(t[i:i + k])
        for t in docs.values()
        for i in range(len(t) - k + 1)
    )
    out = []
    for d, t in docs.items():
        starts = [
            i
            for i in range(len(t) - k + 1)
            if counts[tuple(t[i:i + k])] >= min_count
        ]
        span = None
        for s in starts:
            # merge while the new interval [s, s+k-1] overlaps or is
            # adjacent to the covered range (s <= end + 1); since end
            # is always last_start + k - 1, this is the operator's
            # lag rule s > prev_start + k
            if span is None or s > span[1] + 1:
                if span:
                    out.append((d, span[0], span[1], span[1] - span[0] + 1))
                span = [s, s + k - 1]
            else:
                span[1] = s + k - 1
        if span:
            out.append((d, span[0], span[1], span[1] - span[0] + 1))
    return sorted(out)


def test_dup_spans_randomized_differential(spark):
    """25 seeded random corpora, each with a DISJOINT pure-letter token
    alphabet, unioned into ONE documents table: cross-corpus shingles
    can never collide, so the single Spark run must equal 25
    independent pure-Python runs of the spec. Small alphabets force
    heavy duplication — within-doc repeats, overlapping and adjacent
    spans, full-doc coverage — the regimes the planted tests sample
    only pointwise."""
    import random

    rng = random.Random(42)
    all_docs: dict[int, list[str]] = {}
    corpora: list[dict[int, list[str]]] = []
    for ci in range(25):
        prefix = chr(ord("a") + ci % 26) + chr(ord("a") + ci // 26)
        alphabet = [prefix + s for s in ("aa", "bb", "cc", "dd", "ee")]
        corpus = {}
        for d in range(8):
            n = rng.randint(0, 14)
            corpus[ci * 1000 + d] = [rng.choice(alphabet) for _ in range(n)]
        corpora.append(corpus)
        all_docs.update(corpus)

    k, min_count = 3, 2
    df = spark.createDataFrame(
        [(d, " ".join(t) if t else "") for d, t in all_docs.items()],
        "doc_id bigint, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dup_spans_for(df, k=k, min_count=min_count).collect()
    )
    exp = sorted(
        row for c in corpora for row in _py_dup_spans(c, k, min_count)
    )
    assert got == exp
    # the random regime actually exercised duplication
    assert len(exp) > 50


def test_dup_spans_guards(spark, planted):
    with pytest.raises(ValueError, match="min_count"):
        dup_spans_for(planted, k=3, min_count=1)
    with pytest.raises(ValueError, match="k must be"):
        dup_spans_for(planted, k=0)


def test_dup_spans_plan(spark, documents):
    p = (
        remove_dup_spans_for(documents, k=8, min_count=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # pure JVM end to end: tokenize/shingle/island/reassemble are
    # codegen+window, nothing drops into Python
    assert "MapInPandas" not in p and "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    # the span anti-join is keyed on doc_id with the range predicate
    # as residual — never a cartesian
    assert "CartesianProduct" not in p and "LeftAnti" in p
