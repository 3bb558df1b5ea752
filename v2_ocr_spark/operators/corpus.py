"""Corpus-level training-data operators over a `documents`-shaped
table (each takes the DataFrame it reads) —
the jobs that sit between cleaning and tokenizer-feeding in a
pretraining pipeline:

  * vocabulary_topk      — global token frequency table (the vocab /
                           frequency-cutoff job)
  * token_pack_for       — deterministic sequence packing: assign docs
                           to fixed token-budget context windows
  * cross_source_overlap — n-gram contamination check between corpus
                           sources (the benchmark-decontamination shape)

All three are pure DataFrame/SQL shapes with DuckDB oracle twins; the
token regexes are the same Java/RE2-agreeing patterns as textstats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.window import Window

from v2_ocr_spark.operators.textstats import BPE_ISH


def vocabulary_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Top-k corpus tokens by frequency (deterministic tiebreak on the
    token) — the vocabulary/frequency-cutoff pass.

    Scale shape: explode + hash groupBy with map-side partials, then a
    distributed TakeOrdered for the top-k — no global sort, no single-
    partition window. At 10^12 turns the token-count table is the only
    shuffle, keyed by token (high cardinality, well spread)."""
    # F.lit keeps the pattern out of the SQL parser (a '\d' inside an
    # F.expr string literal would be eaten as an escape)
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(BPE_ISH), F.lit(0)
            )
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


# below this many docs, token_pack_for's default path skips the two-phase
# boundary jobs: a single window task covers the input faster than the
# count+sample jobs can run (callers passing explicit `shards` opt out)
_SMALL_INPUT_ROWS = 1_000_000


def token_pack_for(
    docs: DataFrame, budget: int = 2048, shards: int | None = None
) -> DataFrame:
    """Eager: runs one driver job when called (the bin boundaries).
    Deterministic sequence packing over any (doc_id, source, text)
    table: concatenate each SOURCE's docs in doc_id order into a
    running token stream and assign every doc the context window (bin)
    its first token lands in — the standard pretraining packing job,
    made reproducible (no RNG, no greedy first-fit whose result depends
    on visit order). Pass the ALREADY-FILTERED survivors when packing
    for training: packing before filtering would leave every window
    underfilled by the tokens of later-dropped docs.

    Scale shape — a TWO-PHASE distributed prefix sum (the same idiom as
    chunked assembly), because a plain `PARTITION BY source` window is
    one task per source and a handful-of-sources corpus (the common
    case) would serialize 40 TB through single reducers:

      1. shard each doc by doc_id against sampled boundaries
         (one narrow driver job; the boundaries become LITERALS, so the
         shard label is deterministic and order-preserving — within a
         source, shard p's docs all precede shard p+1's — and every
         re-evaluation of the plan subtree agrees on it, which a
         spark_partition_id()-after-repartitionByRange label would NOT:
         range boundaries are re-sampled per physical subtree), and run
         the cumulative sum per (shard, source) — every shard's window
         is a small independent task;
      2. aggregate one (shard, source, total) row per shard — bounded
         by shards x sources, driver-tiny — take the exclusive running
         total per source across shards (a window over that tiny
         table), and broadcast-join the offsets back.

    start_token = local running sum + shard offset, byte-identical to
    the single-window formulation (pinned by test) with parallelism =
    `shards` regardless of source cardinality. Numeric and string
    doc_ids (the composed transcript pipeline's conv_id) shard via
    seeded-sample boundaries — the RangePartitioner idiom: a bounded
    sorted sample picked on the driver becomes literal cut points
    (Python's numeric and code-point string orders agree with Spark's
    numeric and UTF8 binary orders, so the CaseWhen stays monotone in
    the window's orderBy). Other id types fall back to the per-source
    window. Default calls (shards=None) ADAPTIVELY collapse to the
    single-window plan when the input's row count is under ~10^6 —
    at that size one window task beats paying the boundary sample
    job; passing `shards` explicitly always shards. (The count that
    drives the collapse is the SAME count the sharded path needs for
    its sample fraction — one driver job either way.)"""
    spark = docs.sparkSession
    auto = shards is None
    if auto:
        shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = docs.select(
        "doc_id",
        "source",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH)).alias("n_tokens"),
    )
    id_type = dict(docs.dtypes)["doc_id"]
    numeric = any(
        t in id_type
        for t in ("int", "long", "short", "byte", "float", "double", "decimal")
    )
    bounds: list = []
    if (numeric or id_type == "string") and shards > 1:
        # ONE sampled-boundaries path for every supported id type (the
        # RangePartitioner idiom). approxQuantile was measured ~3x the
        # cost of count+sample at sf0.1 for boundaries whose PLACEMENT
        # is free to be approximate anyway — output is byte-identical
        # under ANY monotone cut points; placement only balances shard
        # sizes, and a seeded 64-points-per-boundary sample balances
        # within a few percent.
        ids = docs.select("doc_id").where(F.col("doc_id").isNotNull())
        # ONE count job for both decisions: the sharding path needs n
        # for the sample fraction anyway, so a separate LocalLimit
        # probe before it was pure added latency exactly when sharding
        # is taken (ADVICE r3) — and on inputs small enough to collapse
        # the full count is itself cheap.
        n = ids.count()
        if auto and n <= _SMALL_INPUT_ROWS:
            # ADAPTIVE collapse, default calls only: below ~10^6 rows a
            # one-task-per-source window finishes in well under the
            # cost of the boundary sample job, so sharding tiny inputs
            # is pure overhead. Explicit `shards` always shards —
            # callers (and the plan pins) that ask for parallelism
            # get it.
            n = 0
        if n:
            # ~64 sample points per boundary; collect is bounded by
            # shards x 64 ids regardless of corpus size
            frac = min(1.0, (shards * 64) / n)
            sample = sorted(
                r["doc_id"] for r in ids.sample(fraction=frac, seed=42).collect()
            )
            if len(sample) >= shards:
                m = len(sample)
                bounds = sorted(
                    {sample[(m * i) // shards] for i in range(1, shards)}
                )
    if not bounds:
        # one-shard cases (tiny adaptive collapse, non-orderable id
        # fallback, shards=1, degenerate sample) take the plain
        # single-window formulation outright — threading a constant
        # _shard through the two-phase machinery would add two no-op
        # stages and the constant would fold out of the partitioning
        # anyway
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        start = F.sum("n_tokens").over(w) - F.col("n_tokens")
        # bin is BIGINT via exact integer division (DIV) on the bigint
        # start — floor(double)/cast(int) silently wraps once a source
        # exceeds budget * 2^31 tokens (~4.4e12 at budget 2048, inside
        # the design scale) and double division loses exactness past
        # 2^53 tokens
        return d.select(
            "source",
            "doc_id",
            "n_tokens",
            start.cast("bigint").alias("start_token"),
        ).withColumn("bin", F.expr(f"start_token DIV {int(budget)}"))
    # ONE FLAT CaseWhen over literal boundaries (first match wins;
    # NESTED when/otherwise chains explode exponentially under
    # Catalyst's conditional rewrites — the CLAUDE.md CASE trap):
    # monotone in doc_id, so all of shard p precedes shard p+1
    # within a source. NULL doc_id sorts NULLS FIRST in the window
    # — it lands in shard 0 up front (the comparisons would
    # otherwise all be NULL and fall through to the LAST shard,
    # breaking order preservation)
    shard_col = F.when(F.col("doc_id").isNull(), F.lit(0))
    for i, b in enumerate(bounds):
        shard_col = shard_col.when(F.col("doc_id") <= F.lit(b), F.lit(i))
    shard_col = shard_col.otherwise(F.lit(len(bounds)))
    d = d.withColumn("_shard", shard_col)
    w_local = (
        Window.partitionBy("_shard", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.select(
        "source",
        "doc_id",
        "n_tokens",
        "_shard",
        (F.sum("n_tokens").over(w_local) - F.col("n_tokens")).alias(
            "_local_start"
        ),
    )
    # phase 2: per-shard totals (<= shards x sources rows), exclusive
    # prefix per source across shards — the only per-source-serial
    # step, over a table bounded by the shard count, not the corpus.
    # The total is taken as max(inclusive cumsum) FROM THE WINDOW
    # OUTPUT, not sum(n_tokens): an agg of raw n_tokens lets Catalyst
    # prune the Window out of this branch and push a partial aggregate
    # below its own exchange, so the two branches stop sharing a
    # subtree and the BPE regexp_count scan (the dominant cost) runs
    # TWICE. Referencing _local_start pins both branches to the one
    # Exchange(project(regexp_count)) subplan, which AQE then reuses —
    # measured 1.39 s -> single-scan at sf0.1. Equivalence: cumsum is
    # nondecreasing (regexp_count >= 0, NULL rows add nothing), so its
    # max over a (shard, source) group IS the group's token total.
    totals = local.groupBy("_shard", "source").agg(
        F.max(F.col("_local_start") + F.col("n_tokens")).alias(
            "_shard_total"
        )
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        F.col("_shard").alias("_o_shard"),
        F.col("source").alias("_o_source"),
        F.coalesce(F.sum("_shard_total").over(w_off), F.lit(0)).alias(
            "_offset"
        ),
    )
    # null-safe on source: a NULL source is a group like any other in
    # the window formulation, and a plain equi-join would drop it
    out = local.join(
        F.broadcast(offsets),
        (F.col("_shard") == F.col("_o_shard"))
        & F.col("source").eqNullSafe(F.col("_o_source")),
    )
    start = F.col("_local_start") + F.col("_offset")
    # same exact-DIV bin as the collapsed path (see comment there)
    return out.select(
        "source",
        "doc_id",
        "n_tokens",
        start.cast("bigint").alias("start_token"),
    ).withColumn("bin", F.expr(f"start_token DIV {int(budget)}"))


def corpus_filter_for(
    docs: DataFrame,
    keep_list: DataFrame,
    min_quality: float = 0.5,
    min_chars: int = 100,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
) -> DataFrame:
    """The composed C4/Gopher-style cleaning decision: per document, a
    keep/drop verdict with an auditable reason string — the join of the
    quality heuristic, language ID, length floor, and near-dup keeper
    selection that an actual pretraining data pipeline applies before
    tokenization. Reasons compose in a FIXED order (length, lang,
    quality, dup) so the first failing check names the row.

    Scale shape: three narrow codegen projections joined on doc_id
    (broadcast-size here, co-partitioned hash joins at corpus scale)
    plus the pre-computed keeper list — nothing quadratic anywhere.
    Output order is UNSPECIFIED: the decision table is consumed by
    joins (the composed pipeline) where a whole-corpus range exchange for
    ordering would be pure waste; the gate query adds orderBy at
    registration for the oracle hash.

    Works over ANY (doc_id, text[, n_chars]) table plus a pre-computed
    dedup keeper list (dedup_keep_list_for) — the shared body of the
    documents gate query and the composed transcript pipeline
    (assembled conversations with string conv_id keys). ``n_chars`` is
    taken from the input when present (the documents fixture carries
    it) and computed as length(text) otherwise, so both callers apply
    the identical length floor."""
    from v2_ocr_spark.operators.textstats import lang_id_for, quality_score_for

    d = docs
    if "n_chars" not in d.columns:
        # NULL text counts 0 chars -> 'too_short', never a NULL reason
        d = d.withColumn(
            "n_chars", F.coalesce(F.length(F.col("text")), F.lit(0))
        )
    base = d.select("doc_id", "n_chars")
    q = quality_score_for(d, ["doc_id"]).select("doc_id", "quality")
    lang = lang_id_for(d, ["doc_id"])
    keep = keep_list.select("doc_id", F.col("keep").alias("dedup_keep"))
    j = (
        base.join(q, "doc_id")
        .join(lang, "doc_id")
        .join(keep, "doc_id")
    )
    reason = (
        F.when(F.col("n_chars") < min_chars, F.lit("too_short"))
        .when(~F.col("pred_lang").isin(*langs), F.lit("lang"))
        .when(F.col("quality") < min_quality, F.lit("low_quality"))
        .when(~F.col("dedup_keep"), F.lit("near_duplicate"))
        .otherwise(F.lit("kept"))
    )
    return j.select(
        "doc_id",
        "pred_lang",
        "quality",
        reason.alias("reason"),
        (reason == "kept").alias("keep"),
    )


def _filter_stats_for(decisions: DataFrame, toks: DataFrame) -> DataFrame:
    """The number every data meeting asks for: docs and token budget
    per filter outcome — how much survives cleaning, and what each
    rule costs. One rollup over the corpus_filter_for decisions
    joined to the token counts (map-side partial aggregation; the
    reason key has 5 values, so the final shuffle is trivial).

    Takes an EXISTING decisions table and an existing (doc_id,
    bpe_tokens) table — the shared body of the corpus_filter_stats gate
    query and the composed transcript pipeline's summary (one
    definition, so the gate query and the pipeline lineage can't
    drift)."""
    toks = toks.select("doc_id", "bpe_tokens")
    return (
        decisions.join(toks, "doc_id")
        .groupBy("reason")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        )
        .orderBy("reason")
    )


def cross_source_overlap(
    docs: DataFrame, shingle_n: int = 5, max_df: int | None = None
) -> DataFrame:
    """Contamination check: for every pair of corpus sources, the count
    of distinct word n-gram shingles they share — the shape of a
    benchmark-decontamination pass (train side vs eval side keyed by a
    'source' label).

    Scale shape: distinct (source, shingle) projection, then a shingle
    equi-join between source groups — the same inverted-index idiom as
    ngram_jaccard_pairs_for, cost proportional to truly-shared content.
    NULL-text docs contribute no shingles.

    Scale note (100 TB): one viral boilerplate shingle present in every
    source costs |src_a docs| x |src_b docs| in the DOC-level index its
    sibling ngram_jaccard uses; here the join is already collapsed to
    DISTINCT (source, shingle), so the join side is bounded by
    sources^2 per shingle — but the upstream distinct still shuffles
    every occurrence. `max_df` drops shingles whose DOCUMENT frequency
    exceeds the cap before the distinct (same broadcast-anti-join as
    dedup's guard): counts then cover only sub-cap shingles — an
    approximation that biases toward the informative shingles, which is
    the right direction for decontamination (a shingle contaminating
    everything identifies nothing). Default None stays exact."""
    from v2_ocr_spark.operators.dedup import shingle_explode

    sh = shingle_explode(docs.select("doc_id", "text"), shingle_n)
    if max_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        drop = df_counts.where(F.col("df") > max_df).select("shingle")
        sh = sh.join(F.broadcast(drop), "shingle", "left_anti")
    sh = sh.join(docs.select("doc_id", "source"), "doc_id")
    src_sh = sh.select("source", "shingle").distinct()
    a = src_sh.select(F.col("source").alias("source_a"), "shingle")
    b = src_sh.select(F.col("source").alias("source_b"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_shingles"))
        .orderBy("source_a", "source_b")
    )


def decontaminate(
    docs: DataFrame, shingle_n: int = 5, min_hits: int = 1,
    bench_source: str = "src0",
) -> DataFrame:
    """PER-DOCUMENT benchmark decontamination over the documents table:
    one source plays the held-out eval set, every other document gets
    its shared-shingle count, hit fraction, and a contaminated flag.
    cross_source_overlap is the source-PAIR summary of the same idea;
    this is the row-level pass an actual training run filters on
    ("drop every document that quotes the benchmark").

    The split is null-safe: a NULL-source doc is NOT the benchmark, so
    it lands on the training side and stays in the report (a plain !=
    would evaluate to NULL and silently drop it from BOTH splits)."""
    is_bench = F.col("source").eqNullSafe(F.lit(bench_source))
    return decontaminate_for(
        docs.where(~is_bench),
        docs.where(is_bench),
        shingle_n,
        min_hits,
    )


def decontaminate_for(
    docs: DataFrame, benchmark: DataFrame,
    shingle_n: int = 5, min_hits: int = 1,
) -> DataFrame:
    """-> (doc_id, n_shingles, bench_hits, hit_frac, contaminated):
    for each training document, how many of its DISTINCT word
    n-gram shingles appear anywhere in the benchmark table.

    Scale shape: the benchmark side is an EVAL set — small by
    definition (contrast the corpus side at 10^12 turns) — so its
    distinct shingle set is broadcast and the corpus-side pass is one
    zero-shuffle shingle explode + broadcast-hash left join + a single
    map-side-partial groupBy on doc_id. No corpus-vs-corpus join
    exists on this path; if the "benchmark" ever IS corpus-scale,
    drop the broadcast hint and this becomes a plain shuffle join —
    but that input belongs to cross_source_overlap, not here.

    NULL-text contract follows _shingle_set's callers: a NULL-text doc
    has no shingles — it is kept in the output (n_shingles = 0,
    contaminated = false) via the final left join so the report covers
    every input document; '' yields the {''} singleton on both engines
    (DuckDB string_split('') is ['']). Twin-checked byte-level against
    DuckDB in tests/test_corpus_ops.py (the gate sits at its 50-entry
    cap, so this op is pytest-twinned rather than gate-registered)."""
    from v2_ocr_spark.operators.dedup import shingle_explode

    bench_sh = (
        shingle_explode(benchmark.select("doc_id", "text"), shingle_n)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    doc_sh = shingle_explode(docs.select("doc_id", "text"), shingle_n)
    per_doc = (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("bench_hits"),
        )
    )
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0)).cast("bigint")
    hits = F.coalesce(F.col("bench_hits"), F.lit(0)).cast("bigint")
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        n_sh.alias("n_shingles"),
        hits.alias("bench_hits"),
        F.round(
            F.when(n_sh == 0, F.lit(0.0)).otherwise(
                hits.cast("double") / n_sh.cast("double")
            ),
            6,
        ).alias("hit_frac"),
        (hits >= F.lit(min_hits)).alias("contaminated"),
    )


def boilerplate_lines_for(docs: DataFrame, min_docs: int = 3) -> DataFrame:
    """-> (line, doc_freq): every line of text that appears in at least
    `min_docs` DISTINCT documents — corpus-wide boilerplate (site
    headers, cookie banners, license footers). The inter-document
    counterpart of textstats.dedup_lines (which scrubs repeats WITHIN
    one document); a line repeated inside a single doc counts once.

    Scale shape: explode is codegen (Generate, no Python), then a
    distinct on (doc_id, line) with map-side partials collapsing
    within-doc repeats before the shuffle, then a count keyed by line
    (high cardinality, well spread). By Zipf the surviving >= min_docs
    set is a short head, which is what makes the scrub's broadcast
    anti-join viable."""
    if min_docs < 2:
        # min_docs=1 marks EVERY line boilerplate and scrubs the whole
        # corpus — reject like the dedup thresholds reject <= 0
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    lines = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(F.split(F.col("text"), "\n")).alias("line")
    )
    return (
        lines.distinct()
        .groupBy("line")
        .agg(F.count("*").alias("doc_freq"))
        .where(F.col("doc_freq") >= min_docs)
    )


def scrub_boilerplate_for(docs: DataFrame, min_docs: int = 3) -> DataFrame:
    """-> (doc_id, n_lines, kept_lines, scrubbed_text): remove every
    line that appears in >= min_docs distinct documents (ALL of its
    occurrences, in every document), keeping survivors in original
    order — the C4/RefinedWeb-style inter-document boilerplate scrub
    a web corpus needs before dedup/quality scoring. Reference analog:
    the per-page cleanup pass (lib/ocr/mistral.ts:208-219) strips
    repeated markup noise within a page; this is the corpus-level
    version of the same idea.

    Contracts (twin-checked byte-level vs DuckDB in
    tests/test_corpus_ops.py — the gate sits at its 50-entry cap, so
    this op is pytest-twinned rather than gate-registered, like
    decontaminate):
      * NULL-text docs are excluded (nothing to scrub) — the
        dedup_lines contract; '' is a one-line doc whose single ''
        line is scrubbable like any other.
      * A doc whose every line is boilerplate stays in the output with
        kept_lines = 0 and scrubbed_text '' (Spark array_join([]) is
        ''; the DuckDB twin coalesces its NULL string_agg).
      * Empty lines count like any line: blank separators shared by
        >= min_docs docs are scrubbed too — the filter is exact, not
        content-aware.

    Scale shape: the boilerplate set (Zipf head, bounded by distinct
    lines with doc_freq >= min_docs) is broadcast into a left-anti
    join — same inversion as dedup's oversized-bucket guard: broadcast
    the small DROP set, never the corpus-scale keep side. The corpus
    then shuffles once on doc_id for the ordered reassembly
    (sort_array over collected (pos, line) structs — the assemble W1
    idiom). The line-split subtree runs twice (freq pass + keep pass);
    it is pure codegen off the scan, cheaper than persisting the
    exploded corpus. If a pathological corpus ever makes the drop set
    too large to broadcast, remove the hint and this becomes a plain
    shuffle anti-join — the semantics don't change."""
    base = docs.where(F.col("text").isNotNull())
    lines = base.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    )
    boiler = boilerplate_lines_for(docs, min_docs).select("line")
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("kept_lines"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("scrubbed_text"),
    )
    n_lines = F.size(F.split(F.col("text"), "\n"))
    return base.select("doc_id", n_lines.alias("n_lines")).join(
        agg, "doc_id", "left"
    ).select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.coalesce(F.col("kept_lines"), F.lit(0))
        .cast("int")
        .alias("kept_lines"),
        F.coalesce(F.col("scrubbed_text"), F.lit("")).alias(
            "scrubbed_text"
        ),
    )


def shuffle_shards_for(
    docs: DataFrame, n_shards: int = 8, seed: str = "shuf"
) -> DataFrame:
    """-> (doc_id, shard, pos): the reproducible pre-training shuffle —
    assign every document to one of n_shards output shards and give it
    a dense 1-based position inside its shard, both derived from
    md5(seed || ':' || doc_id). Training jobs read shards in pos order;
    changing the seed reshuffles, and the SAME seed reproduces the
    identical order on any engine, partitioning, or cluster size —
    the property RNG-based orderBy(rand()) cannot give and the reason
    sampled/shuffled corpora stay auditable at 10^12 rows (the same
    argument as sample_stratified_for's md5 buckets).

    Contracts (twin-checked byte-level vs DuckDB in
    tests/test_shuffle_shards.py — the gate sits at its 50-entry cap,
    so this op is pytest-twinned like its r5 siblings):
      * shard = first-60-md5-bits % n_shards (the _md5_u60 / DuckDB
        ('0x'||substr(md5(..),1,15))::UBIGINT idiom); pos ranks by the
        full md5 hex string (asc doc_id tiebreak — md5 collisions are
        unreachable, the tiebreak just keeps the order total).
      * every input doc appears exactly once; pos is dense 1..|shard|.

    Scale shape: ONE hash exchange on shard + a per-shard sort window
    — NO global total order (no rangepartitioning): training order
    only needs to be fixed WITHIN a shard, so the classic
    shard-then-sort-within construction sidesteps the global-sort
    bottleneck entirely. Parallelism = n_shards; pick n_shards ~ the
    shard-file count you want on disk (thousands at corpus scale)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col("doc_id")))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 15), 16, 10).cast("long"),
        F.lit(n_shards),
    )
    w = Window.partitionBy("shard").orderBy("_key", "doc_id")
    return (
        docs.select(
            "doc_id", key.alias("_key"), shard.cast("int").alias("shard")
        )
        .select(
            "doc_id", "shard", F.row_number().over(w).alias("pos")
        )
    )


def dup_spans_for(
    docs: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """-> (doc_id, span_start, span_end, span_tokens): maximal runs of
    k-token shingles that occur >= min_count times in the WHOLE corpus
    — the span-level member of the dedup family (doc-level near-dup is
    minhash/simhash/ngram; line-level is scrub_boilerplate_for; THIS is
    the "deduplicating training data" substring pass: repeated
    licenses, templated paragraphs, self-repeating generation loops).
    Counting is by TOTAL occurrences, not distinct documents, so a
    phrase repeated inside one document is a duplicate span too — the
    within-doc self-repetition case scrub_boilerplate_for's distinct-doc
    counting deliberately ignores.

    Span positions are 0-based TOKEN indexes (the shared BPE_ISH
    pre-tokenizer, original case — removal must reproduce original
    tokens); a shingle starting at s covers [s, s+k-1], and
    overlapping/adjacent covered intervals merge into one span.

    Contracts (twin-checked byte-level vs DuckDB in
    tests/test_dup_spans.py — the gate sits at its 50-entry cap, so
    this op is pytest-twinned like decontaminate / scrub_boilerplate_for):
      * NULL-text docs excluded; docs with < k tokens yield no spans.
      * min_count < 2 is rejected (every shingle occurs >= 1 time —
        the whole corpus would be one span).
      * output order UNSPECIFIED (consumers sort/join).

    Scale shape: one doc_id-partitioned window builds shingles (k-1
    lead() exprs over ONE window spec — a single WindowExec pass; docs
    are the natural partition, no global window), then ONE
    shingle-partitioned count window finds the duplicate starts — a
    groupBy-count + semi-join formulation evaluates the whole shingle
    subtree TWICE (the agg branch partial-aggregates before its
    exchange, so the exchanges aren't canonical-identical and
    ReuseExchange can't share them — the CLAUDE.md token_pack
    split-subtree trap), while the count window shuffles the same raw
    start rows the semi join would and reads the shingle pass once.
    Then the classic lag-based gaps-and-islands merge inside the
    doc_id window family. All corpus-linear; no cartesian, no corpus
    broadcast. At 10^12 turns the string shingle key could be
    xxhash64'd to shrink the count shuffle — kept as the exact string
    here so the oracle twin is engine-portable.

    Skew tradeoff, stated honestly: the count window shuffles raw
    start rows by shingle, so one pathologically-hot shingle lands on
    one task (AQE splits skewed JOINS, not windows). The groupBy+
    semi-join formulation is skew-immune on the count (map-side
    combine) and — WHEN the duplicate-shingle set is small enough to
    broadcast — avoids shuffling starts at all; but on the heavily-
    duplicated corpora this operator exists for, the dup set is
    itself corpus-scale (not broadcastable), the semi join shuffles
    the same skewed rows anyway, AND still pays the second
    shingle-chain eval. The count window is the robust default;
    corpora known to have a tiny dup set can fork to the
    broadcast-semi shape."""
    return _dup_spans_from(_tokens_indexed(docs), k, min_count)


def _dup_spans_from(tok: DataFrame, k: int, min_count: int) -> DataFrame:
    """dup_spans_for over an existing (doc_id, i, t) token table —
    shared with remove_dup_spans_for so the span chain reuses the
    caller's tokenization."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2, got {min_count} (every shingle "
            f"occurs at least once — the corpus would be one big span)"
        )
    w = Window.partitionBy("doc_id").orderBy("i")
    parts = [F.col("t")] + [F.lead("t", j).over(w) for j in range(1, k)]
    sh = tok.select(
        "doc_id",
        F.col("i").alias("s"),
        F.concat_ws(" ", *parts).alias("shingle"),
        # lead(k-1) NULL => fewer than k tokens remain at this start
        (parts[-1].isNotNull()).alias("_full"),
    ).where(F.col("_full"))
    starts = (
        sh.withColumn(
            "_c", F.count("*").over(Window.partitionBy("shingle"))
        )
        .where(F.col("_c") >= min_count)
        .select("doc_id", "s")
    )
    ws = Window.partitionBy("doc_id").orderBy("s")
    islands = starts.select(
        "doc_id",
        "s",
        F.sum(
            F.when(
                F.col("s") > F.lag("s").over(ws) + k, F.lit(1)
            ).otherwise(
                F.when(F.lag("s").over(ws).isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
        )
        .over(ws.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("s").cast("int").alias("span_start"),
        (F.max("s") + k - 1).cast("int").alias("span_end"),
        (F.max("s") - F.min("s") + k).cast("int").alias("span_tokens"),
    ).select("doc_id", "span_start", "span_end", "span_tokens")


def _tokens_indexed(docs: DataFrame) -> DataFrame:
    """(doc_id, i, t): original-case BPE_ISH tokens with 0-based
    positions — shared by dup_spans_for and remove_dup_spans_for so
    both sides of the span join tokenize identically."""
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH), F.lit(0))
        ).alias("i", "t"),
    )


def remove_dup_spans_for(
    docs: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """Eager: runs Spark jobs when called (span localCheckpoint).
    -> (doc_id, n_tokens, dup_tokens, kept_text): drop every token
    covered by a duplicate span (see dup_spans_for) and reassemble the
    survivors in order. Reconstruction joins tokens with single
    spaces — token-stream-exact, whitespace-NORMALIZED (the C4-style
    tradeoff; char-exact cutting would need per-match offsets, which
    is an interpreted per-row loop in Spark — the token stream is the
    honest JVM-native surface). Docs whose every token is covered stay
    in the output as (n, n, ''); NULL-text docs are excluded.

    Scale shape: the span chain reuses this function's token table
    (_dup_spans_from), so the plan is: tokenize evaluated twice (the
    anti-join probe side and the shingle chain — unavoidable without
    an eager persist this lazy operator shouldn't own), the k-lead
    shingle WindowExec ONCE, one doc_id-keyed equi-anti-join with the
    [span_start, span_end] range predicate as its residual condition,
    and one doc_id shuffle for the ordered reassembly (the assemble W1
    sort_array idiom). Totals come from kept-count + the tiny span
    rollup (spans never overlap after the island merge, so covered
    tokens == sum(span_tokens) exactly) — NOT from a third tokenize
    pass over the corpus. The merged-span table is
    localCheckpoint(eager)ed: it is referenced by BOTH the anti-join
    and the rollup, and without the cut each reference would re-run
    the whole shingle chain (the non-canonical-exchange trap the
    dup_spans_for docstring describes); the table itself is small —
    merged spans only — so the eager materialization at call time is
    the bounded cost."""
    tok = _tokens_indexed(docs)
    spans = _dup_spans_from(tok, k, min_count).localCheckpoint(eager=True)
    # the checkpoint PRESERVES output attribute ids, so spans.doc_id
    # is the same attribute as tok.doc_id — join on the raw columns
    # and Spark builds a trivially-true doc_id == doc_id predicate.
    # Rename the span side to force distinct attributes.
    span_j = spans.select(
        F.col("doc_id").alias("_sdoc"), "span_start", "span_end"
    )
    cond = (
        (tok["doc_id"] == span_j["_sdoc"])
        & (tok["i"] >= span_j["span_start"])
        & (tok["i"] <= span_j["span_end"])
    )
    kept = tok.join(span_j, cond, "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "t"))),
                lambda x: x["t"],
            ),
            " ",
        ).alias("kept_text"),
    )
    dup_tok = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("_dup")
    )
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id")
        .join(agg, "doc_id", "left")
        .join(dup_tok, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("_kept"), F.lit(0))
                + F.coalesce(F.col("_dup"), F.lit(0))
            )
            .cast("int")
            .alias("n_tokens"),
            F.coalesce(F.col("_dup"), F.lit(0)).cast("int").alias(
                "dup_tokens"
            ),
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        )
    )


# per-token surprise values are quantized to integer MICRO-BITS before
# the per-doc aggregation: sums of doubles are partition-order-
# dependent on a cluster (and differ run to run), so a float sum can
# never hash-match an oracle; an int64 sum is exact and commutative.
# 1e6 also swallows last-ulp log2 differences between the JVM's and
# DuckDB's libm. Quantization error on the final bits/token is
# <= 1e-6 — invisible at the round-to-6 oracle convention.
_MICRO = 1_000_000


def lm_logloss_for(docs: DataFrame, ref_source: str | None = None) -> DataFrame:
    """-> (doc_id, n_tokens, oov_tokens, bits_per_token, oov_frac):
    CCNet/Gopher-style language-model quality scoring — train a
    Laplace-smoothed unigram LM on a reference slice of the corpus and
    score EVERY document by its mean per-token surprise (bits/token;
    low = fluent/in-domain, high = noise/out-of-domain). The classic
    pretraining filter: CCNet trains on Wikipedia and drops the
    high-perplexity web tail. `ref_source=None` trains on the whole
    corpus (self-scoring: outlier detection); `ref_source='wiki'`
    trains on that source only (domain filtering — other sources' rare
    tokens become OOV and surface in oov_frac).

    Model: p(t) = (cnt_t + 1) / (N + V + 1) with cnt from the
    reference slice, N = total reference tokens, V = reference vocab;
    unseen tokens share the +1 bucket. surprise(t) =
    log2(N + V + 1) - log2(cnt_t + 1), always >= 0 and finite — NaN is
    impossible by construction (the CLAUDE.md scoring invariant), and
    zero-token docs get NULL scores, never a 0/0.

    Contracts (twin-checked byte-level vs DuckDB in
    tests/test_lm_quality.py — the gate sits at its 50-entry cap, so
    this op is pytest-twinned like decontaminate/scrub_boilerplate_for):
      * NULL-text docs are excluded; ''/whitespace-only docs are kept
        with n_tokens = 0 and NULL bits_per_token / oov_frac.
      * Tokenization is the shared BPE_ISH pre-tokenizer over
        lower(text), identical to vocabulary_topk / token_counts_for.
      * Per-token surprise is quantized to integer micro-bits (see
        _MICRO above) so the per-doc sum is exact BIGINT arithmetic —
        order-independent on any cluster, hence oracle-exact.

    Scale shape: one (doc_id, token) partial-agg shuffle collapses
    within-doc repeats (Zipf: the exploded stream shrinks hard at the
    map side), one token-keyed count shuffle over the reference slice,
    then a token-keyed equi-join (vocab-scale right side — AQE
    broadcasts it when small, shuffles when a 100 TB vocab isn't) and
    a final doc_id agg of exact int64 sums. The two model scalars
    (N, V) enter the plan as a broadcast one-row cross join — no
    collect, no driver round-trip."""
    base = docs.where(F.col("text").isNotNull())
    ref = base if ref_source is None else base.where(
        F.col("source") == ref_source
    )

    def _toks(d: DataFrame) -> DataFrame:
        return d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(BPE_ISH), F.lit(0)
                )
            ).alias("token"),
        )

    cnt = _toks(ref).groupBy("token").agg(F.count("*").alias("cnt"))
    # N + V + 1 as ONE broadcast row; log2 of it quantized once
    denom = cnt.agg(
        F.round(
            F.log2(F.sum("cnt") + F.count("*") + F.lit(1)) * _MICRO, 0
        )
        .cast("long")
        .alias("_norm_micro")
    )
    tf = _toks(base).groupBy("doc_id", "token").agg(
        F.count("*").alias("tf")
    )
    scored = (
        tf.join(cnt, "token", "left")
        .crossJoin(F.broadcast(denom))
        .select(
            "doc_id",
            "tf",
            F.when(F.col("cnt").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("_oov"),
            (
                F.col("tf")
                * (
                    F.col("_norm_micro")
                    - F.round(
                        F.log2(F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                        * _MICRO,
                        0,
                    ).cast("long")
                )
            ).alias("_micro_bits"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("_n"),
            F.sum(F.col("tf") * F.col("_oov")).alias("_oov_n"),
            F.sum("_micro_bits").alias("_micro_sum"),
        )
    )
    return (
        base.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce(F.col("_oov_n"), F.lit(0))
            .cast("int")
            .alias("oov_tokens"),
            F.round(
                F.col("_micro_sum") / (F.col("_n") * F.lit(float(_MICRO))), 6
            ).alias("bits_per_token"),
            F.round(F.col("_oov_n") / F.col("_n"), 6).alias("oov_frac"),
        )
    )


# default training-mix rates for the gate surface: one keep-all
# stratum, two partial strata, and a default tail — every cutoff
# branch exercised. Shared with the DuckDB twin via
# stratified_cutoffs() so the two can never drift.
STRATIFIED_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
STRATIFIED_DEFAULT_RATE = 0.1


def stratified_cutoffs(
    rates: dict[str, float] | None = None,
    default_rate: float = STRATIFIED_DEFAULT_RATE,
) -> tuple[dict[str, int], int]:
    """(per-stratum md5-bucket cutoffs, default cutoff) — ONE
    derivation shared by the Spark operator and its oracle SQL."""
    from v2_ocr_spark.operators.textstats import hash_sample_cutoff

    rates = STRATIFIED_RATES if rates is None else rates
    return (
        {k: hash_sample_cutoff(v) for k, v in sorted(rates.items())},
        hash_sample_cutoff(default_rate),
    )


def sample_stratified_for(
    docs: DataFrame, rates: dict[str, float] | None = None,
    default_rate: float = STRATIFIED_DEFAULT_RATE,
) -> DataFrame:
    """Deterministic STRATIFIED sampling — the training-mix
    constructor: keep each document iff its md5(doc_id) bucket falls
    under its source's rate (unlisted sources use default_rate). The
    per-stratum rate is how corpus mixes are actually built (oversample
    books, downsample web), and the hash-bucket keep decision is
    reproducible across runs, engines, partitionings and cluster sizes
    — unlike RNG df.sampleBy, whose output changes with the partition
    layout, which makes sampled corpora unauditable at 10^12 rows.

    Scale shape: zero shuffle — one codegen'd scan-side filter; the
    rate CASE dispatches on the (low-cardinality) source column and
    the bucket math is the shared _md5_bucket expression the other
    sampling operators already pin against DuckDB."""
    from v2_ocr_spark.operators.textstats import _md5_bucket

    cuts, default_cut = stratified_cutoffs(rates, default_rate)
    cut = F.lit(default_cut)
    for src, c in cuts.items():
        cut = F.when(F.col("source") == src, F.lit(c)).otherwise(cut)
    h = _md5_bucket("doc_id")
    return docs.where(h < cut).select(
        "source", "doc_id", h.alias("bucket")
    )
