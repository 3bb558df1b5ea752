"""Text analysis over the `documents` table — language-ID heuristic,
quality scoring, token counting, document fingerprinting.

Every expression is a built-in JVM column function (regexp_count,
translate, md5, length) so the whole module stays inside whole-stage
codegen; each has an exact DuckDB-SQL twin in __spark_entry__.py.
The regex patterns are chosen to mean the same thing in Java regex
(Spark) and RE2 (DuckDB): literal char classes, \\p{L}, \\d, \\S only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

# script ranges as literal characters (identical bytes in both engines)
ARABIC_CLASS = "[؀-ۿ]"
CYRILLIC_CLASS = "[Ѐ-ӿ]"
CJK_CLASS = "[一-鿿]"

# tiny per-language stopword markers for the latin-script heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "y", "las"],
}

# GPT-2-style coarse BPE pre-tokenizer (letters / digits / other runs)
BPE_ISH = r"\p{L}+|\d+|[^\p{L}\d\s]+"
WS_TOKEN = r"\S+"


def stopword_pattern(lang: str) -> str:
    """One alternation per language: count-equivalent to summing the
    per-word counts (each match is a whole \\b-delimited token equal to
    exactly one stopword, so matches are disjoint and every per-word
    occurrence is found once) but ONE regex pass instead of five —
    the scans are the dominant cost of quality/lang scoring."""
    return rf"\b(?:{'|'.join(STOPWORDS[lang])})\b"


def _stop_hits(col, lang: str) -> F.Column:
    return F.regexp_count(col, F.lit(stopword_pattern(lang)))


def lang_id_for(d: DataFrame, keys: list[str]) -> DataFrame:
    """n-gram/script heuristic language ID for any (keys..., text)
    table: script ratios decide non-latin scripts, stopword votes break
    latin-script ties."""
    text = F.lower(F.col("text"))
    n = F.greatest(F.length(text), F.lit(1))
    # materialize each count ONCE in a first projection — referencing
    # the same Column object in several CASE branches duplicates the
    # regexp subtree in the plan (no common-subexpression elimination
    # across conditional branches; measured ~20x slower inlined)
    counts = d.select(
        *keys,
        F.col("text").isNull().alias("_tn"),
        (F.regexp_count(text, F.lit(ARABIC_CLASS)) / n).alias("ar"),
        (F.regexp_count(text, F.lit(CYRILLIC_CLASS)) / n).alias("cy"),
        (F.regexp_count(text, F.lit(CJK_CLASS)) / n).alias("cjk"),
        _stop_hits(text, "en").alias("en"),
        _stop_hits(text, "de").alias("de"),
        _stop_hits(text, "fr").alias("fr"),
        _stop_hits(text, "es").alias("es"),
    )
    en, de, fr, es = (F.col(c) for c in ("en", "de", "fr", "es"))
    best_latin = (
        F.when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )
    pred = (
        # NULL text has no language: every count is NULL, so all the
        # branches below fall through and the otherwise() would label
        # it 'es' (while '' deterministically labels 'en') — an
        # arbitrary, keep-list-colliding fallback. NULL in, NULL out.
        F.when(F.col("_tn"), F.lit(None).cast("string"))
        .when(F.col("ar") > 0.3, "ar")
        .when(F.col("cy") > 0.3, "ru")
        .when(F.col("cjk") > 0.3, "zh")
        .otherwise(best_latin)
    )
    return counts.select(*keys, pred.alias("pred_lang"))


def quality_score_for(d: DataFrame, keys: list[str]) -> DataFrame:
    """Length / punctuation / stopword-ratio quality heuristic for any
    (keys..., text) table — the standard pre-training text filters, one
    codegen'd projection."""
    text = F.col("text")
    n = F.greatest(F.length(text), F.lit(1)).cast("double")
    n_alpha = F.regexp_count(text, F.lit(r"\p{L}")).cast("double")
    n_punct = F.regexp_count(text, F.lit(r"[^\p{L}\d\s]")).cast("double")
    n_words = F.regexp_count(text, F.lit(WS_TOKEN)).cast("double")
    n_stop = _stop_hits(F.lower(text), "en").cast("double")
    mean_word_len = n_alpha / F.greatest(n_words, F.lit(1.0))
    score = (
        F.least(n / 500.0, F.lit(1.0)) * 0.25
        + (n_alpha / n) * 0.35
        + (F.lit(1.0) - F.least(n_punct / n * 10.0, F.lit(1.0))) * 0.2
        + F.least(n_stop / F.greatest(n_words, F.lit(1.0)) * 5.0, F.lit(1.0))
        * 0.2
    )
    return d.select(
        *keys,
        F.round(n_alpha / n, 6).alias("alpha_ratio"),
        F.round(n_punct / n, 6).alias("punct_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality"),
    )


def token_counts_for(d: DataFrame, keys: list[str]) -> DataFrame:
    """Whitespace and BPE-ish token counts for any (keys..., text)
    table — the budget signal every training-data pipeline aggregates
    before packing."""
    return d.select(
        *keys,
        F.regexp_count(F.col("text"), F.lit(WS_TOKEN)).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH)).alias("bpe_tokens"),
    )


def fingerprints_for(d: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic fingerprints: md5 of the text and of the
    whitespace-normalized text (the exact-dedup / lineage key)."""
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return d.select(
        *keys,
        F.md5(F.col("text")).alias("fp_exact"),
        F.md5(norm).alias("fp_norm"),
    )


def rolling_fingerprint(docs: DataFrame, window: int = 8) -> DataFrame:
    """The GATE surface of the winnowing fingerprint: scalar columns
    only — (doc_id, n_fps, fp_digest) with fp_digest = md5 of the
    comma-joined sorted fingerprint set. The driver canonicalizes every
    query output by sorting ALL columns, and pandas cannot sort a list
    column (the r3 driver failure) — so the raw array<long> set stays
    an internal surface (rolling_fingerprint_set) and the query
    projects it to scalars, the same idiom as _canon_spans. DuckDB twin:
    expected-parquet from the pure-Python winnowing reimplementation
    (fixtures/oracle_expected.py), with the md5 recomputed in DuckDB."""
    fps = rolling_fingerprint_set(docs, window)
    return fps.select(
        "doc_id",
        F.size("fingerprint_set").cast("int").alias("n_fps"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.col("fingerprint_set"), lambda x: x.cast("string")
                ),
            )
        ).alias("fp_digest"),
    )


def rolling_fingerprint_set(docs: DataFrame, window: int = 8) -> DataFrame:
    """Winnowing-style content fingerprint: distinct minima over rolling
    windows of word-shingle hashes — shift-robust. Arrow-batched numpy
    kernel (sliding_window_view min-reduce); the Catalyst nested-slice
    formulation is interpreted per element and O(n*w) — measured 30x
    slower."""
    import zlib

    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split(" ")
                m = max(len(toks) - 2, 1)
                hs = np.fromiter(
                    (
                        zlib.crc32(" ".join(toks[i : i + 3]).encode("utf-8"))
                        for i in range(m)
                    ),
                    dtype=np.int64,
                    count=m,
                )
                if len(hs) >= window:
                    mins = np.lib.stride_tricks.sliding_window_view(
                        hs, window
                    ).min(axis=1)
                else:
                    mins = hs.min(keepdims=True)
                out.append((doc_id, sorted(set(mins.tolist()))))
            yield pd.DataFrame(out, columns=["doc_id", "fingerprint_set"])

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, fingerprint_set array<long>"
    )


def normalize_nfc(df: DataFrame, keys: list[str]) -> DataFrame:
    """Unicode NFC normalization of the text column — the standard
    pre-tokenization canonicalization (combining marks compose; NFC
    leaves compatibility chars like ligatures alone). Runs as one
    zero-shuffle Arrow pass (pandas' C-level str.normalize); DuckDB's
    nfc_normalize is the oracle twin."""
    from collections.abc import Iterator

    import pandas as pd

    cols = [*keys, "nfc_text"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf[keys].copy()
            out["nfc_text"] = pdf["text"].fillna("").str.normalize("NFC")
            yield out[cols]

    # key types come from the INPUT schema — hardcoding a name-to-type
    # rule would silently mistype e.g. a bigint doc_id as string at the
    # Arrow boundary
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    key_ddl = ", ".join(f"{k} {by_name[k]}" for k in keys)
    return df.select(*keys, "text").mapInPandas(
        run, schema=f"{key_ddl}, nfc_text string"
    )


# RE2-safe patterns (no backrefs/lookaround) so the Spark (Java regex)
# and DuckDB (RE2) sides agree byte-for-byte
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 ()-]{7,}[0-9]"


def redact_pii(df: DataFrame, keys: list[str]) -> DataFrame:
    """Mask email addresses and phone-number-shaped digit runs — the
    baseline PII scrub every training-data pipeline applies before
    tokenization. Pure codegen (two regexp_replace), plus per-row hit
    counts for audit metrics."""
    text = F.col("text")
    # n_phones counts matches in the EMAIL-REDACTED text, exactly what
    # phone redaction runs on — counting the raw text would report a
    # phone 'redaction' for a digit run the email pass already consumed
    # ('1234567890@example.com' -> redacted_text has no <PHONE>), so
    # audits reconciling n_phones against <PHONE> occurrences would
    # over-report. Two-step select so the email pass is evaluated once.
    masked = df.select(
        *keys,
        text.alias("text"),
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>").alias("_email_masked"),
    )
    return masked.select(
        *keys,
        F.regexp_replace(
            F.col("_email_masked"), PHONE_RE, "<PHONE>"
        ).alias("redacted_text"),
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(
            F.col("_email_masked"), F.lit(PHONE_RE)
        ).alias("n_phones"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: line counts and
    the duplicate-line fraction (boilerplate/listing detector). Pure
    codegen array ops; DuckDB list functions are the twin."""
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    n = F.size(lines)
    uniq = F.size(F.array_distinct(lines))
    return docs.select(
        "doc_id",
        n.alias("n_lines"),
        uniq.alias("distinct_lines"),
        F.round(
            (n - uniq).cast("double") / F.greatest(n, F.lit(1)), 6
        ).alias("dup_line_frac"),
    )


def dedup_lines(docs: DataFrame) -> DataFrame:
    """The TRANSFORM counterpart of repetition_stats: remove repeated
    lines within each document, keeping first occurrences in order —
    the Gopher-style boilerplate/listing scrub applied, not just
    measured. Native array expressions (array_distinct preserves
    first-occurrence order); NULL-text docs are excluded (nothing to
    scrub), matching the oracle. DuckDB's list_distinct does NOT
    preserve order, so the twin reconstructs first-occurrence via a
    per-(doc, line) window instead."""
    d = docs.where(F.col("text").isNotNull())
    lines = F.split(F.col("text"), "\n")
    return d.select(
        "doc_id",
        F.array_join(F.array_distinct(lines), "\n").alias("dedup_text"),
    )


def hash_sample_cutoff(rate: float) -> int:
    """The md5-prefix bucket cutoff for a given rate — ONE derivation
    shared by the Spark operator and its DuckDB oracle SQL so the two
    can never drift when rate changes."""
    return int(65536 * rate)


def _md5_bucket(col: str) -> F.Column:
    """The shared md5-prefix bucket (0..65535) for deterministic
    sampling — ONE definition so hash_sample and sample_conversations
    can never drift apart."""
    return F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 4), 16, 10
    ).cast("int")


def hash_sample(docs: DataFrame, rate: float = 0.1) -> DataFrame:
    """Deterministic hash-bucket sampling: keep docs whose md5(doc_id)
    prefix falls under rate — reproducible across runs, engines and
    cluster sizes (unlike RNG-based df.sample), and stable under
    re-partitioning, which is what makes sampled pipelines auditable
    at 10^12 rows. DuckDB computes the identical md5 bucket."""
    h = _md5_bucket("doc_id")
    cut = hash_sample_cutoff(rate)
    # the bucket expression appears in both the Filter and the Project;
    # aliasing it first would just be substituted back by predicate
    # pushdown. The double md5 per KEPT row is accepted: it is trivial
    # next to the scan and only applies to the sampled fraction.
    return docs.where(h < cut).select("doc_id", h.alias("bucket"))


def sample_conversations(df: DataFrame, rate: float = 0.1) -> DataFrame:
    """Deterministic CONVERSATION-level sampling of a transcripts
    table: the md5 bucket of conv_id keeps or drops whole
    conversations, never splitting one — the unit that matters when
    sampling dialogue data (turn-level sampling destroys context).
    Same bucket math as hash_sample, so DuckDB reproduces it."""
    return df.where(_md5_bucket("conv_id") < hash_sample_cutoff(rate))
