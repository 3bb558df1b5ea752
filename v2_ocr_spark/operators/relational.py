"""The reference's relational query surface (SURVEY.md §2.2-2.7),
re-expressed as DataFrame builders.

Every operator takes the table(s) it reads — `turns` (transcripts),
`conv` (conversations) or `events` — and returns a DataFrame whose
column names match the DuckDB oracle in __spark_entry__.py exactly.
Timestamps are surfaced as epoch seconds (bigint) so value hashes are
engine- and timezone-independent.

All of these are single-pass Catalyst plans: filters and projections
push down to the Parquet scan, aggregates use partial (map-side)
aggregation, and the one join (J1/J2) broadcasts the small
conversations dimension.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from v2_ocr_spark.kernels.textfns import ARABIC_NUMERALS, RTL_DETECT_PATTERN


def _epoch(col: str) -> F.Column:
    return F.col(col).cast("long")


# ---- scans / sorts / top-k ------------------------------------------------

def queue_scan(conv):
    """S3: documents by status set, newest first (queue-service.ts:36-64)."""
    return (
        conv.where(F.col("status").isin("queued", "processing", "pending"))
        .select(
            "conv_id", "status", _epoch("created_at").alias("created_epoch")
        )
        .orderBy(F.desc("created_epoch"), "conv_id")
    )


def results_scan(turns):
    """S4: one conversation's turns in stable order (results-service.ts:23-37)."""
    return (
        turns.where(F.col("conv_id") == "conv00000001")
        .select("conv_id", "turn_idx", "role", "text")
        .orderBy("turn_idx")
    )


def top_queue(conv):
    """O3: first 5 queue items (MAX_QUEUE_DISPLAY, config/constants.ts:4)."""
    return (
        conv.select("conv_id", "status", _epoch("created_at").alias("created_epoch"))
        .orderBy(F.desc("created_epoch"), "conv_id")
        .limit(5)
    )


def multi_key_sort(conv):
    """O2: sort by coalesce(processing_started_at, created_at) desc then
    name (app/documents/page.tsx:90-107), deterministic tiebreak. The
    name key compares with ICU root collation (Spark 4 `collate(...,
    'UNICODE')`) to match the reference's localeCompare — UTF-8 binary
    order diverges from UCA on any non-ASCII name."""
    return (
        conv.select(
            "conv_id",
            "source_name",
            F.coalesce(
                _epoch("processing_started_at"), _epoch("created_at")
            ).alias("sort_epoch"),
        )
        .orderBy(
            F.desc("sort_epoch"),
            F.collate(F.col("source_name"), "UNICODE"),
            "conv_id",
        )
        .limit(20)
    )


def name_sort_collated(conv):
    """O2 collation surface, made hash-checkable: localeCompare name
    order (app/documents/page.tsx:97-99) materialized as an explicit
    rank — an ORDER BY alone is invisible to an order-insensitive
    compare. Spark ICU root ('UNICODE') vs DuckDB's icu en_us produce
    the identical UCA order for these names (root-equivalent tailoring).
    Dim-table op: the unpartitioned window runs one task over a
    broadcast-scale table, not the fact table."""
    w = Window.orderBy(
        F.collate(F.col("source_name"), "UNICODE"), "conv_id"
    )
    return conv.select(
        "conv_id",
        "source_name",
        F.row_number().over(w).alias("rk"),
    )


def size_sort(conv):
    """O2 size variant: largest conversations first."""
    return (
        conv.select("conv_id", "size_bytes")
        .orderBy(F.desc("size_bytes"), "conv_id")
        .limit(10)
    )


# ---- filters / predicates --------------------------------------------------

def compound_filter(conv):
    """P5: name contains (case-insensitive) AND status filter
    (app/documents/page.tsx:109-116)."""
    return (
        conv.where(
            F.lower(F.col("source_name")).contains("report")
            & (F.col("status") == "completed")
        )
        .select("conv_id", "source_name", "status")
    )


def fulltext_search(turns):
    """P6: case-insensitive substring over turn texts
    (app/documents/[id]/page.tsx:697-711)."""
    return (
        turns.where(F.lower(F.col("text")).contains("fox"))
        .select("conv_id", "turn_idx")
    )


def viewable(conv):
    """P8: completed OR (cancelled AND turns>0) OR error/failed
    (app/components/document-list.tsx:202-213)."""
    return conv.select(
        "conv_id",
        "status",
        (
            (F.col("status") == "completed")
            | ((F.col("status") == "cancelled") & (F.col("total_turns") > 0))
            | F.col("status").isin("error", "failed")
        ).alias("is_viewable"),
    )


def status_invariant(conv):
    """P9: no row may have status='queued' AND error set
    (lib/tests/document-status-validation.ts:21-23)."""
    return conv.agg(
        F.count(
            F.when(
                (F.col("status") == "queued") & F.col("error").isNotNull(), 1
            )
        ).alias("violations")
    )


def repair_status_invariant(conversations, repaired_at: str):
    """P9 write-back half: the reference both DETECTS and SELF-HEALS the
    queued+error violation (document-status-validation.ts:39-46 clears
    doc.error and re-saves). Returns the full table with violating rows
    repaired — error cleared, repair timestamp stamped — and a
    was_repaired audit flag; untouched rows pass through byte-identical,
    so re-applying is a no-op (idempotent MERGE semantics)."""
    violating = (F.col("status") == "queued") & F.col("error").isNotNull()
    stamp = F.lit(repaired_at).cast("timestamp")
    return conversations.withColumns(
        {
            "error": F.when(violating, F.lit(None).cast("string")).otherwise(
                F.col("error")
            ),
            "was_repaired": violating,
            "repaired_at": F.when(violating, stamp),
        }
    )


def status_repair(conv, repaired_at: str = "2025-01-01 00:00:00+00:00"):
    """Oracled view of repair_status_invariant over the conversations
    dim: per-conversation post-repair error + audit columns."""
    rep = repair_status_invariant(conv, repaired_at)
    return rep.select(
        "conv_id",
        "status",
        F.col("error").alias("error_after"),
        "was_repaired",
        _epoch("repaired_at").alias("repaired_epoch"),
    )


def range_filter(conv):
    """P4: created_at < cutoff (retention scan, stats-service.ts:163-167)."""
    return (
        conv
        # the +00:00 offset pins the instant regardless of the session
        # timezone (a bare literal would parse in local time)
        .where(
            F.col("created_at")
            < F.lit("2025-01-03 00:00:00+00:00").cast("timestamp")
        )
        .select("conv_id", _epoch("created_at").alias("created_epoch"))
    )


# ---- aggregates -------------------------------------------------------------

def status_counts(conv):
    """A1: status distribution (queue-service.ts:76-80)."""
    return conv.groupBy("status").agg(F.count("*").alias("n"))


def dashboard_stats(conv):
    """A2: totalProcessed / avg processing seconds / success rate
    (app/page.tsx:168-180)."""
    done = F.col("status") == "completed"
    failed = F.col("status").isin("failed", "error")
    return conv.agg(
        F.count(F.when(done | failed, 1)).alias("total_processed"),
        F.round(
            F.avg(
                F.when(
                    done,
                    _epoch("processing_completed_at")
                    - _epoch("processing_started_at"),
                )
            ),
            6,
        ).alias("avg_processing_sec"),
        F.round(
            F.count(F.when(done, 1)) * 100.0 / F.count("*"), 6
        ).alias("success_rate"),
    )


def storage_stats(conv):
    """A4: sum of sizes (stats-service.ts:82-103)."""
    return conv.agg(
        F.sum("size_bytes").alias("total_bytes"),
        F.count("*").alias("n_convs"),
    )


def text_size(turns):
    """A4 text variant: total text chars (stats-service.ts:106-127)."""
    return turns.agg(
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("total_chars")
    )


def turns_per_conversation(turns):
    """A6: total turns per conversation via window count
    (file-processor.ts:161,316 total_pages analog)."""
    w = Window.partitionBy("conv_id")
    return (
        turns.where(F.col("conv_id") == "conv00000002")
        .select(
            "conv_id",
            "turn_idx",
            F.count("*").over(w).cast("int").alias("total_turns"),
        )
    )


def progress(turns):
    """A5: floor(done*100/total) per conversation (file-processor.ts:322)."""
    return (
        turns.groupBy("conv_id")
        .agg(
            F.floor(
                F.max("turn_idx") * 100 / F.count("*")
            ).cast("long").alias("progress_pct")
        )
    )


def role_counts(turns):
    """A1 analog over turns: per-role counts."""
    return turns.groupBy("role").agg(F.count("*").alias("n"))


# ---- joins ------------------------------------------------------------------

def semi_join_completed(turns, conv):
    """J1: turns whose conversation exists & is completed — broadcast
    left-semi (results-service.ts:57-68 existence check)."""
    dim = conv.where(F.col("status") == "completed").select("conv_id")
    return (
        turns.join(F.broadcast(dim), "conv_id", "left_semi")
        .groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"))
    )


def anti_join_cancelled(turns, conv):
    """J2: turns surviving a cascade delete of cancelled conversations
    (queue-service.ts:250-277)."""
    dim = conv.where(F.col("status") == "cancelled").select("conv_id")
    return turns.join(F.broadcast(dim), "conv_id", "left_anti").agg(
        F.count("*").alias("surviving_turns")
    )


# ---- scalar-function queries -------------------------------------------------

def rtl_flags(conv):
    """E5: RTL detection over source names ([id]/page.tsx:100-103)."""
    return conv.select(
        "conv_id",
        "source_name",
        F.col("source_name").rlike(RTL_DETECT_PATTERN).alias("is_rtl"),
    )


def _arabic_turn_idx() -> F.Column:
    return F.translate(
        F.col("turn_idx").cast("string"), "0123456789", ARABIC_NUMERALS
    ).alias("turn_idx_ar")


def arabic_numerals_all(turns):
    """E6: digit mapping for ar/fa content ([id]/page.tsx:153-158),
    over every turn (the combined gate query's surface)."""
    return turns.select("conv_id", "turn_idx", _arabic_turn_idx())


# ---- E7 / E10 / A7 — sanitization, human formatting, ETA ------------------

def _js_ws_class() -> str:
    import re as _re

    from v2_ocr_spark.kernels.markdown import JS_WS

    return "[" + _re.escape(JS_WS) + "]"


def safe_names(conv):
    """E7 distributed: sanitize source names for export
    (lib/utils.ts:29-71), fallback date injected for determinism."""
    from v2_ocr_spark.kernels.markdown import JS_WS

    fallback = F.lit("Export_16-08-2026")
    raw = F.col("source_name")
    sanitized = F.btrim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(raw, '[<>:"/\\\\|?*]', ""), r"^\.+", ""
            ),
            _js_ws_class() + "+",
            " ",
        ),
        F.lit(JS_WS),
    )
    # materialize the 3-regexp sanitize chain and the reverse+locate
    # ONCE before the CASE — Catalyst does no common-subexpression
    # elimination ACROSS conditional branches, so inlining `s` into
    # every branch re-runs the regexp chain per branch (the CLAUDE.md
    # CASE trap; same fix as lang_id_for's counts projection)
    pre = conv.select(
        "conv_id",
        "source_name",
        sanitized.alias("_s"),
    )
    s = F.col("_s")
    # last '.' position (1-based; 0 = none)
    pre = pre.withColumn(
        "_last_dot",
        F.when(
            F.locate(".", F.reverse(s)) > 0,
            F.length(s) - F.locate(".", F.reverse(s)) + 1,
        ).otherwise(F.lit(0)),
    )
    last_dot = F.col("_last_dot")
    stem = F.translate(F.substring(s, 1, last_dot - 1), ".", "_")
    named = (
        F.when(last_dot == 1, s)
        .when(last_dot > 1, F.substring(stem, 1, 251))
        .otherwise(F.substring(s, 1, 251))
    )
    out = F.when(
        raw.isNull() | (F.btrim(raw, F.lit(JS_WS)) == "") | (s == ""),
        fallback,
    ).otherwise(named)
    return pre.select("conv_id", "source_name", out.alias("safe_name"))


def _strip_zeros(col: F.Column) -> F.Column:
    return F.regexp_replace(col.cast("string"), r"\.?0+$", "")


def human_sizes(conv):
    """E10: bytes -> '1.5 KB' style, exact reference semantics
    (lib/file-utils.ts:94-100: floor(log1024), toFixed(2), parseFloat)."""
    b = F.col("size_bytes").cast("double")
    # clamp to the last unit: >= 1 PiB would index past the 5-element
    # array — an ANSI ArrayIndexOutOfBounds killing the whole query for
    # one huge row; clamped, it formats as '1024 TB' (oracle matches)
    i = F.least(
        F.lit(4), F.floor(F.log(b) / F.log(F.lit(1024.0))).cast("int")
    )
    unit = F.element_at(
        F.array(F.lit("B"), F.lit("KB"), F.lit("MB"), F.lit("GB"), F.lit("TB")),
        i + 1,
    )
    val = _strip_zeros(F.round(b / F.pow(F.lit(1024.0), i.cast("double")), 2))
    fmt = F.when(F.col("size_bytes") == 0, F.lit("0 B")).otherwise(
        F.concat(val, F.lit(" "), unit)
    )
    return conv.select("conv_id", "size_bytes", fmt.alias("human_size"))


def durations(conv):
    """E10 duration variant (file-utils.ts:102-116) over completed
    conversations' processing time."""
    ms = (
        (_epoch("processing_completed_at") - _epoch("processing_started_at"))
        * 1000
    )
    sec = F.floor(ms / 1000).cast("long")
    mins = F.floor(sec / 60).cast("long")
    hours = F.floor(mins / 60).cast("long")
    fmt = (
        F.when(ms < 1000, F.concat(ms.cast("string"), F.lit("ms")))
        .when(
            hours > 0,
            F.concat(
                hours.cast("string"), F.lit("h "),
                (mins % 60).cast("string"), F.lit("m "),
                (sec % 60).cast("string"), F.lit("s"),
            ),
        )
        .when(
            mins > 0,
            F.concat(
                mins.cast("string"), F.lit("m "),
                (sec % 60).cast("string"), F.lit("s"),
            ),
        )
        .otherwise(F.concat(sec.cast("string"), F.lit("s")))
    )
    return (
        conv.where(F.col("status") == "completed")
        .select("conv_id", fmt.alias("duration_fmt"))
    )


def eta_estimate(conv):
    """A7: processing-time heuristic (file-utils.ts:118-127):
    2000 ms base + ceil(MB*10 pages)*2000 ms."""
    mb = F.col("size_bytes").cast("double") / F.lit(1048576.0)
    eta = (F.lit(2000) + F.ceil(mb * 10) * 2000).cast("long")
    return conv.select("conv_id", eta.alias("eta_ms"))


# ---- P7 / E9 / E13 — validity, IO-boundary renames, status labels ---------

def validity_check(turns):
    """P7: file-validity predicate analog (queue-manager.ts:474-479):
    size cap + kind whitelist, emitted as a boolean column (invalid
    rows are never dropped — P10)."""
    valid = (F.length(F.coalesce("text", F.lit(""))) <= 65536) & F.col(
        "role"
    ).isin("user", "assistant", "tool")
    return turns.select("conv_id", "turn_idx", valid.alias("is_valid"))


def camel_case_view(conv):
    """E9: snake_case -> camelCase at the IO boundary
    (lib/database/utils/case-conversion.ts:22-58); `conv_id` plays the
    exempt `id` role and keeps its name."""
    return conv.select(
        "conv_id",
        F.col("source_name").alias("sourceName"),
        F.col("total_turns").alias("totalTurns"),
        _epoch("created_at").alias("createdAt"),
    )


def status_labels(conv):
    """E13: status -> display text, exact reference getStatusText
    semantics for the 'en' locale without rate-limit state
    (document-list.tsx:229-246; labels lib/i18n/translations.ts:317-365
    — note 'queued' is lowercase in the reference's table). processing
    shows 'Processing {currentPage}/{totalPages}' with currentPage
    defaulting 0 (document-list.tsx:238)."""
    label = (
        F.when(
            F.col("status") == "processing",
            F.concat(
                F.lit("Processing 0/"), F.col("total_turns").cast("string")
            ),
        )
        .when(F.col("status") == "completed", F.lit("Completed"))
        .when(F.col("status") == "queued", F.lit("queued"))
        .when(F.col("status") == "pending", F.lit("Pending"))
        .when(F.col("status") == "cancelled", F.lit("Cancelled"))
        .when(F.col("status") == "failed", F.lit("Failed"))
        .otherwise(F.lit("Error"))
    )
    return conv.select("conv_id", "status", label.alias("label"))


def status_labels_full(df, now_ms: float):
    """E13 COMPLETE getStatusText parity (document-list.tsx:229-246,
    'en' locale), including the two branches the dim-table query can't
    exercise (no such columns there):

      * rate-limited rows render 'Resuming in {N}s' with
        N = max(0, ceil((retryAfter*1000 - (now - rateLimitStart))/1000))
        — the same arithmetic as kernels/textfns.rate_limit_countdown;
      * cancelled rows WITH progress render 'Cancelled (n processed)'.

    ``now_ms`` is an explicit parameter (the reference's Date.now()) so
    output is deterministic and testable. Expected optional columns:
    retry_after_s (double; NULL = not rate-limited),
    rate_limit_start_ms (double), current_page (int)."""
    remaining = F.greatest(
        F.lit(0),
        F.ceil(
            (
                F.col("retry_after_s") * 1000
                - (F.lit(now_ms) - F.col("rate_limit_start_ms"))
            )
            / 1000
        ),
    ).cast("int")
    base = (
        F.when(
            F.col("status") == "processing",
            F.concat(
                F.lit("Processing "),
                F.coalesce(F.col("current_page"), F.lit(0)).cast("string"),
                F.lit("/"),
                F.coalesce(F.col("total_turns"), F.lit(0)).cast("string"),
            ),
        )
        .when(
            (F.col("status") == "cancelled")
            & F.col("current_page").isNotNull()
            & (F.col("current_page") > 0),
            F.concat(
                F.lit("Cancelled ("),
                F.col("current_page").cast("string"),
                F.lit(" processed)"),
            ),
        )
        .when(F.col("status") == "completed", F.lit("Completed"))
        .when(F.col("status") == "queued", F.lit("queued"))
        .when(F.col("status") == "pending", F.lit("Pending"))
        .when(F.col("status") == "cancelled", F.lit("Cancelled"))
        .when(F.col("status") == "failed", F.lit("Failed"))
        .otherwise(F.lit("Error"))
    )
    label = F.when(
        F.col("retry_after_s").isNotNull(),
        F.concat(F.lit("Resuming in "), remaining.cast("string"), F.lit("s")),
    ).otherwise(base)
    return df.withColumn("label", label)


# ---- events-table operators (stream-shaped batch analytics) ----------------

def _ntz_epoch(col: str) -> F.Column:
    # events.ts is TIMESTAMP_NTZ (parquet without isAdjustedToUTC);
    # route through TIMESTAMP so the cast to epoch seconds resolves
    return F.col(col).cast("timestamp").cast("long")


def events_by_type(events):
    """Per-type counts + exact value sums (decimal accumulate so the
    result is order-independent, then surfaced as double)."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def events_daily(events):
    """Event-time day rollup — the batch shape of a streaming windowed
    count (no unbounded source in the reference, SURVEY §2.9)."""
    # events.ts is TIMESTAMP_NTZ (wall-clock, no zone): to_date on NTZ
    # is timezone-free in BOTH engines, so the bucket is stable no
    # matter what session timezone the caller's SparkSession uses
    return (
        events.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(F.count("*").alias("n"))
    )


def sessionize(events, gap_minutes: int = 30):
    """Gap-based sessionization per user: a new session starts when the
    time since the previous event exceeds the gap. One window pass
    (lag + running sum) — the scalable formulation; at 100 TB the
    window partitions by user_id so skew = hottest user."""
    e = events.select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lit(gap_minutes * 60)
    new_sess = (
        F.when(_ntz_epoch("ts") - F.lag(_ntz_epoch("ts")).over(w) > gap, 1)
        .otherwise(0)
    )
    with_sess = e.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_sess.groupBy("user_id")
        .agg(
            (F.max("session_idx") + 1).cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def top_events_per_user(events, k: int = 2, n_users: int = 10):
    """Top-k per group: the k most recent events for the first users."""
    e = events.where(F.col("user_id") < n_users)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "user_id",
            F.col("rk").cast("int").alias("rk"),
            "event_id",
            "event_type",
        )
        .orderBy("user_id", "rk")
    )


# ---- extras the reference lacks but Spark SQL gives for free ---------------

def status_rollup(conv):
    """ROLLUP over (status, viewable-ish flag) — subtotals + grand
    total. The reference computes these with separate queries
    (app/page.tsx:547-559); one rollup pass replaces them all."""
    c = conv.withColumn(
        "is_done", F.col("status").isin("completed", "failed", "error")
    )
    return (
        c.rollup("status", "is_done")
        .agg(F.count("*").alias("n"))
        .select(
            "status",
            F.col("is_done").cast("string").alias("is_done"),
            "n",
        )
    )


def distinct_users(events):
    """Exact distinct cardinality over the events stream table."""
    return events.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


def value_percentiles(events):
    """Exact interpolated percentiles of event values per type."""
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        )
    )


def value_histogram_for(e, n_bins: int = 20):
    """Fixed-bin histogram of event values per type — the exact,
    SQL-expressible cousin of a sketch: bin width derives from the
    global min/max (one cheap pre-agg, broadcastable), then one
    codegen'd groupBy. At 10^12 rows both aggregations are map-side
    partial; no sort, no window.

    Works over any (event_type, value) table. When every value
    is identical the bin width is 0 and the division would produce
    NaN (and the oracle's CAST(NaN AS INT) errors) — that degenerate
    input collapses to bin 0, guarded identically in the oracle SQL.

    NaN values are DROPPED up front (repo NaN policy: make it
    impossible, never 'let the guard handle it') — one NaN makes
    hi=NaN (NaN is max in Spark), the hi==lo guard misses it, the bin
    width goes NaN and EVERY row silently lands in bin 0 while the
    DuckDB twin errors on CAST(NaN AS INT). isnan(NULL) is false, so
    NULL values keep their current NULL-bin behavior."""
    e = e.where(~F.isnan(F.col("value").cast("double")))
    bounds = e.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_bins - 1),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / n_bins)
                ),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("n")
    )


def approx_distinct_users(events, rsd: float = 0.02):
    """HyperLogLog++ distinct-user estimate per event type — the
    sketch path for cardinality at 10^12 rows (fixed-size sketch per
    group, map-side mergeable; exact distinct shuffles every key).
    Checked against exact counts within 3*rsd in tests (rows-only for
    the driver: DuckDB's approx sketch differs — HLL++ register layout
    is engine-internal, so this entry is PERMANENTLY rows-only by
    design; distinct_kmv_for below is the fully-oracled deterministic
    sketch twin)."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users")
    )


# shared with the gate's DuckDB twin (__spark_entry__ interpolates
# it into the oracle SQL) so the two can never drift on k
KMV_K = 64


def distinct_kmv_for(e, k: int = KMV_K):
    """Deterministic KMV (bottom-k / k-minimum-values) distinct-user
    sketch per event type — the oracle-able mergeable sketch: keep the
    k smallest xxhash64(user_id) values per group; if the sketch is
    not full (< k distinct hashes seen) the estimate is the exact
    count, else (k-1)/u_k where u_k is the k-th smallest hash
    normalized to (0, 1]. Pure column ops over a deterministic hash,
    so the DuckDB twin recomputes it exactly from the expected
    user-hash parquet (fixtures/oracle_expected.py; xxh64_long pinned
    byte-level vs F.xxhash64 in tests).

    Scale shape: the only exact pass is the distinct on (type, user) —
    the same shuffle HLL avoids, but KMV's bottom-k is what makes the
    result deterministic AND mergeable (union of bottom-ks = bottom-k
    of union). The per-group bottom-k needs no hand-rolled salting:
    Catalyst rewrites `row_number() <= k` into Partial + Final
    WindowGroupLimit around the one exchange (plan-pinned in tests),
    so every map partition ships at most k rows per group and no sort
    group ever holds a whole event type — the two-phase shape, one
    shuffle. (A manual salt pre-pass was measured as a strictly worse
    plan: one extra full exchange of the distinct pairs, with Spark
    inserting its own group limits around it anyway.)"""
    # NULL user ids are DROPPED explicitly: Spark's xxhash64(NULL)
    # degrades to the seed (42) — a phantom "user" that would collide
    # across groups — while the oracle's hash-table join silently
    # drops NULLs; symmetric drop is the only consistent contract
    d = (
        e.select("event_type", "user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
    )
    h = d.select(
        "event_type", "user_id", F.xxhash64("user_id").alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    top = (
        h.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .withColumn(
            "m", F.count("*").over(Window.partitionBy("event_type"))
        )
    )
    # u = h/2^64 + 0.5 maps the signed hash into (0, 1] with ONLY
    # exact double ops after the int64->double rounding, so Spark and
    # DuckDB compute bit-identical estimates (adding 2^63 as an
    # integer literal first would hit engine-specific literal typing)
    u = F.col("h").cast("double") / F.lit(float(2**64)) + F.lit(0.5)
    return (
        top.where(F.col("rk") == F.col("m"))
        .select(
            "event_type",
            F.col("m").cast("int").alias("sketch_size"),
            F.round(
                F.when(F.col("m") < k, F.col("m").cast("double")).otherwise(
                    F.lit(float(k - 1)) / u
                ),
                6,
            ).alias("est_distinct"),
        )
    )
