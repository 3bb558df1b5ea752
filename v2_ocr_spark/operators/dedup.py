"""Deduplication operators for training-data pipelines. Each takes
the (doc_id, text, ...) table it reads — the `documents` table or
assembled conversations — and returns a DataFrame.

All hot-path math stays JVM-side (xxhash64, array ops, hash
aggregation with map-side partials) — no Python in the row path.

  * exact_duplicates      — hash groupBy on full text
  * minhash_lsh_pairs_for — word-shingle MinHash -> banded LSH buckets
                            -> candidate pairs -> exact-Jaccard verify.
                            Contract: ALL pairs with Jaccard >= threshold
                            (recall of the banding at J=0.5 with r=2,b=64
                            is 1-(1-0.5^2)^64 ~ 1-1e-8).
  * simhash_pairs         — 64-bit SimHash + banded hamming search
  * ngram_jaccard_pairs_for — EXACT word-shingle Jaccard for every pair
                            above threshold, via a shingle inverted
                            index (explode -> self-equi-join on the
                            shingle -> co-occurrence counts). Never
                            materializes the n^2 pair space: only pairs
                            sharing >= 1 shingle appear, and J >= t > 0
                            requires a shared shingle, so the output is
                            identical to the all-pairs definition.

Scale notes (100 TB):
  * The signature aggregation is one shuffle of (doc_id, 128 longs) —
    tiny next to the text. Band exploding multiplies rows by `bands`,
    but each row is (band_id, band_hash, doc_id) — ~24 bytes.
  * Bucket-join skew (a degenerate band key collecting millions of
    docs) is bounded by `max_bucket` — oversized buckets are dropped
    and logged, the standard guardrail (they are near-certainly
    boilerplate clusters handled by exact dedup first).
  * Exact verification joins shingle sets back only for candidate
    pairs — proportional to output size, not input^2.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from v2_ocr_spark.operators import materialized

MERSENNE_P = (1 << 31) - 1


def _shingle_set(text: str, n: int) -> set[str]:
    """Distinct word n-gram shingles of ONE document — the single
    oracle-pinned shingle definition, shared by the minhash signature
    pass, the exact-verify kernel and the inverted-index explode (it
    used to live as three inline copies plus an unused JVM variant —
    four places any semantics tweak had to hit). '' yields {''}
    (DuckDB string_split('') is ['']); callers own the None policy
    (verify maps None -> empty set; the pair producers drop None)."""
    toks = text.split(" ")
    m = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i : i + n]) for i in range(m)}


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup: groups of byte-identical texts (size > 1)."""
    return (
        docs.groupBy("text")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_copies") > 1)
        .select("keeper_doc_id", "n_copies")
    )


def _hash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k universal hash functions —
    a simple LCG keeps this library-free and platform-stable."""
    params, state = [], 42
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 128, shingle_n: int = 3
) -> DataFrame:
    """-> (doc_id, sig array<long>[num_hashes], n_shingles).

    ONE narrow Arrow-batched pass, zero shuffles. The signature math is
    numpy-vectorized inside mapInPandas: per doc, an outer product
    (a_k * x_j + b_k) mod p min-reduced over shingles. Measured 50-70x
    faster than the same math as Catalyst expressions — 128 min-
    aggregates overflow the codegen method limit and higher-order array
    functions are interpreted per element; a batched numpy kernel is
    the idiomatic fast path (same reason the extraction kernels are
    pandas UDFs)."""
    import zlib

    import numpy as np
    import pandas as pd

    params = _hash_params(num_hashes)
    a = np.array([p[0] for p in params], dtype=np.int64).reshape(-1, 1)
    b = np.array([p[1] for p in params], dtype=np.int64).reshape(-1, 1)

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # NULL-text docs are DROPPED (the module NULL
                    # policy, same as shingle_explode/simhash):
                    # coalescing to '' gave every NULL doc the
                    # identical {''} signature, colliding them all
                    # into every LSH band — O(k^2) wasted verify work
                    continue
                shingles = _shingle_set(text, shingle_n)
                x = np.fromiter(
                    (
                        zlib.crc32(s.encode("utf-8")) % MERSENNE_P
                        for s in shingles
                    ),
                    dtype=np.int64,
                    count=len(shingles),
                )
                sig = ((a * x + b) % MERSENNE_P).min(axis=1)
                out.append((doc_id, sig.tolist(), len(shingles)))
            yield pd.DataFrame(
                out, columns=["doc_id", "sig", "n_shingles"]
            )

    # id type follows the input (bigint doc_id, string conv_id, ...)
    id_type = dict(docs.dtypes)["doc_id"]
    return docs.select("doc_id", "text").mapInPandas(
        run, schema=f"doc_id {id_type}, sig array<long>, n_shingles int"
    )


def lsh_candidate_pairs(
    sig: DataFrame, rows_per_band: int = 2, num_hashes: int = 128,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Band the signature, bucket-join, emit distinct candidate pairs."""
    bands = num_hashes // rows_per_band
    band_entries = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bucket")

    # Degenerate-bucket guardrail FIRST (boilerplate clusters; exact
    # dedup handles them upstream): bucket sizes are a cheap count
    # aggregate (map-side partial, constant buffer), and the OVERSIZED
    # set — tiny by construction, it takes > max_bucket colliding docs
    # to make one entry — broadcasts into an anti-join. Only THEN are
    # the surviving buckets' member lists collected, so collect_list's
    # aggregation buffer is genuinely bounded by max_bucket even on a
    # 10^12-row input; singleton buckets cost one 1-element array and
    # are dropped by the post-agg size filter. (Broadcasting the KEEP
    # set instead — as an earlier version did — inverts the cardinality:
    # on a heavily duplicated corpus keep ~ bands x n_buckets, a
    # corpus-scale table that would blow the broadcast limit exactly
    # when dedup matters; ngram_jaccard_pairs_for pins the same
    # broadcast-the-small-side rule for its max_df cap.)
    import pandas as pd

    sizes = band_entries.groupBy("band", "bucket").agg(
        F.count("*").alias("n")
    )
    over = sizes.where(F.col("n") > max_bucket).select("band", "bucket")
    buckets = (
        band_entries.join(F.broadcast(over), ["band", "bucket"], "left_anti")
        .groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") >= 2)
        .select("ids")
    )

    # Pair fan-out streams: per-bucket dedup only, flushed in bounded
    # chunks — a max_bucket-sized bucket yields C(n,2) pairs through a
    # ~2M-pair buffer instead of one giant in-memory set. Cross-bucket
    # duplicates are removed by the final distinct().
    FLUSH = 2_000_000

    def emit_pairs(batches):
        from itertools import combinations

        buf: list[tuple] = []
        for pdf in batches:
            for ids in pdf["ids"]:
                # ids arrive as Arrow scalars (numpy int64 / str); the
                # Python sort agrees with Spark's ordering for both
                # (numeric, and code-point == UTF8-binary for strings)
                for pair in combinations(sorted(set(ids)), 2):
                    buf.append(pair)
                    if len(buf) >= FLUSH:
                        yield pd.DataFrame(buf, columns=["doc_a", "doc_b"])
                        buf = []
        if buf:
            yield pd.DataFrame(buf, columns=["doc_a", "doc_b"])

    id_type = dict(sig.dtypes)["doc_id"]
    return (
        buckets.mapInPandas(
            emit_pairs, schema=f"doc_a {id_type}, doc_b {id_type}"
        )
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame, docs: DataFrame, shingle_n: int = 3
) -> DataFrame:
    """Exact word-shingle Jaccard for candidate pairs: join the texts
    back (cost proportional to candidates, not input^2), then set math
    in an Arrow-batched kernel — Catalyst array_intersect/array_union
    are interpreted per element and measured ~10x slower."""
    import pandas as pd

    t = docs.select("doc_id", "text")
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")

    def shingle_set(text):
        # NULL -> EMPTY set: the pair scores 0 and is excluded, exactly
        # like the oracle's NULL division. EMPTY STRING stays {''} —
        # DuckDB's string_split('') is [''] too, so two ''-docs score
        # 1.0 on BOTH sides (None and '' are different contracts here).
        if text is None:
            return set()
        return _shingle_set(text, shingle_n)

    def run(batches):
        for pdf in batches:
            # tokenize each doc ONCE per batch: a doc in a duplicate
            # cluster appears in many candidate pairs, and the shingle
            # set build dominates the verify constant (memory bounded
            # by batch size, not corpus)
            memo: dict = {}
            rows = []
            for doc_a, doc_b, ta, tb in zip(
                pdf["doc_a"], pdf["doc_b"], pdf["ta"], pdf["tb"]
            ):
                sa = memo.get(doc_a)
                if sa is None:
                    sa = memo[doc_a] = shingle_set(ta)
                sb = memo.get(doc_b)
                if sb is None:
                    sb = memo[doc_b] = shingle_set(tb)
                union = len(sa | sb)
                rows.append(
                    (doc_a, doc_b, len(sa & sb) / union if union else 0.0)
                )
            yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"])

    id_type = dict(pairs.dtypes)["doc_a"]
    return joined.mapInPandas(
        run, schema=f"doc_a {id_type}, doc_b {id_type}, jaccard double"
    )


def minhash_lsh_pairs_for(
    docs: DataFrame, threshold: float = 0.5,
    num_hashes: int = 128, rows_per_band: int = 2, shingle_n: int = 3,
) -> DataFrame:
    """Eager: runs Spark jobs when called (persisted pair set).
    Near-duplicate pairs with word-shingle Jaccard >= threshold,
    found via MinHash-LSH candidates + exact verification, over ANY
    (doc_id, text) DataFrame — e.g. assembled conversations with string
    conv_id keys, the sub-quadratic near-dup path the composed pipeline
    takes at scale (the exact inverted-index sibling is
    ngram_jaccard_pairs_for). The id column may be any orderable
    primitive type. Returns a PERSISTED, materialized pair set that the
    CALLER owns: a caller that re-consumes it across stages (the gate's
    memo, the composed pipeline) keeps the one copy and unpersists it
    when done. Output order is UNSPECIFIED (r4 contract, same as the
    ngram/cosine pair producers): consumers JOIN the pairs, and a
    baked-in orderBy would range-exchange the whole pair table — at
    100 TB that table can be billions of rows — for an ordering only
    the gate oracle needs; the gate adds it at registration."""
    if threshold <= 0:
        # same contract guard as ngram_jaccard_pairs_for: only pairs
        # sharing an LSH bucket can ever surface, so threshold=0 (ALL
        # pairs, including fully disjoint ones) is unsatisfiable here
        raise ValueError(
            "minhash_lsh_pairs requires threshold > 0: only pairs "
            "sharing a signature bucket are candidates, so the "
            "ALL-pairs contract at threshold <= 0 cannot be met"
        )
    # docs feed both the signature pass and the verify join-back;
    # respect a caller's existing persist (compose persists the
    # assembled conversations for the whole cleaning tail — yanking
    # that cache here would force every later stage to recompute)
    lvl = docs.storageLevel
    owns_docs_cache = not (lvl.useMemory or lvl.useDisk)
    if owns_docs_cache:
        docs = docs.persist()
    # every intermediate cache is released on every exit path, failure
    # included: repeated calls must not pin extra corpus copies
    try:
        # the one-pass signatures feed 64 band projections
        sig = minhash_signatures(docs, num_hashes, shingle_n).persist()
        try:
            cand = materialized(
                lsh_candidate_pairs(sig, rows_per_band, num_hashes)
            )
        finally:
            sig.unpersist()
        try:
            verified = verify_jaccard(cand, docs, shingle_n)
            return materialized(
                verified.where(F.col("jaccard") >= threshold).select(
                    "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
                )
            )
        finally:
            cand.unpersist()
    finally:
        if owns_docs_cache:
            docs.unpersist()


def shingle_explode(docs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """-> (doc_id, shingle): one row per DISTINCT word n-gram shingle,
    tokenized in one zero-shuffle Arrow pass. NULL text yields no rows
    (a missing doc has no shingles — matching verify_jaccard's
    None -> empty-set contract); empty text yields the single ''
    shingle (DuckDB string_split('') is [''] on the oracle side)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids: list = []
            sh: list[str] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                distinct = _shingle_set(text, shingle_n)
                ids.extend([doc_id] * len(distinct))
                sh.extend(distinct)
            yield pd.DataFrame({"doc_id": ids, "shingle": sh})

    # id type follows the input (bigint doc_id, string conv_id, ...)
    id_type = dict(docs.dtypes)["doc_id"]
    return docs.select("doc_id", "text").mapInPandas(
        run, schema=f"doc_id {id_type}, shingle string"
    )


def ngram_jaccard_pairs_for(
    docs: DataFrame, threshold: float = 0.5, shingle_n: int = 3,
    max_df: int | None = None, id_col: str = "doc_id",
) -> DataFrame:
    """EXACT word-shingle Jaccard pairs >= threshold via a shingle
    inverted index — no all-pairs product anywhere:

      1. explode each doc to its distinct shingles (one Arrow pass),
      2. self-equi-join on the shingle: each co-occurrence contributes
         1 to |A ∩ B| (both sides carry DISTINCT shingles, so the
         per-pair match count IS the intersection size),
      3. |A ∪ B| = |A| + |B| - |A ∩ B| from the per-doc shingle counts.

    Output is identical to the all-pairs definition because any pair
    with J >= t > 0 shares at least one shingle and therefore appears
    in the join. Cost is sum over shingles of df(s)^2 instead of n^2 —
    proportional to actual shared content, the standard exact-similarity
    shape (ssjoin / prefix-filter literature).

    Scale note (100 TB): a boilerplate shingle shared by millions of
    docs makes df^2 explode; `max_df` drops shingles with document
    frequency above the cap from BOTH the intersection join and the
    per-doc union counts — Jaccard is then exact over the reduced
    shingle universe (a symmetric approximation of the full-universe
    value, never the one-sided denominator inflation of filtering the
    join alone). The default (None) stays exact, which is this
    operator's contract; use minhash_lsh_pairs_for as the tunable
    approximate path.

    Works over ANY (id, text) DataFrame — e.g. assembled conversation
    texts for conversation-level near-dup. The id column may be any
    orderable type (doc_a < doc_b dedups the unordered pair either
    way)."""
    if threshold <= 0:
        raise ValueError(
            "ngram_jaccard_pairs requires threshold > 0: the inverted "
            "index only surfaces pairs sharing at least one shingle, "
            "which equals the all-pairs definition ONLY above zero — "
            "a full pairwise table (J >= 0, including disjoint pairs) "
            "is O(n^2) by definition and not this operator's contract"
        )
    docs = docs.select(F.col(id_col).alias("doc_id"), "text")
    # lazy (no persist): a gate query's 3 passes re-tokenize cheaply;
    # production callers persist sh when the corpus pass is expensive
    sh = shingle_explode(docs, shingle_n)
    if max_df is not None:
        # broadcast the OVER-cap set (tiny by construction — only
        # boilerplate mega-df shingles exceed the cap) and anti-join;
        # broadcasting the keep set would ship nearly every distinct
        # shingle in the corpus to every task, defeating the guard at
        # exactly the scale it exists for
        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        drop = df_counts.where(F.col("df") > max_df).select("shingle")
        sh = sh.join(F.broadcast(drop), "shingle", "left_anti")
    # PROBED AND REJECTED (r5, recorded in BASELINE.md): dictionary-
    # encoding string doc ids to longs before the hot join cut the
    # pair stage 109 s -> 59 s at the sf0.1 conversation corpus (the
    # (doc_a, doc_b) hash-agg over sum(df^2)=440M candidate rows is
    # the bottleneck and string keys hash slowly; encoding the SHINGLE
    # join key instead measured FLAT). But the compact long-key
    # shuffle made AQE coalesce the final aggregate 400 -> 9 reduce
    # partitions — it sizes partitions on shuffle BYTES, blind to the
    # hash-agg state they expand into — and the composed sf0.1
    # spark-submit smoke OOMed at the default 1 GiB heap in the spill
    # merge (the string shuffle's very bulk is what keeps AQE's
    # partitioning memory-safe here). A per-operator
    # advisoryPartitionSizeInBytes override cannot attach to a lazily
    # returned DataFrame, so the encoding is not keepable without a
    # latent small-heap regression; output invariance across id
    # representations stays pinned by
    # test_ngram_pairs_string_ids_match_numeric_ids.
    # per-doc counts from the POST-filter set: a capped shingle must
    # leave both the intersection and the union, otherwise a shingle
    # shared by both docs still inflates the denominator and Jaccard
    # is biased downward near the threshold (symmetric approximation:
    # J over the reduced shingle universe)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    )
    # no broadcast hint on the per-doc count tables: one row per doc
    # means they scale with the corpus (10^12 rows is not a broadcast);
    # AQE picks broadcast on its own when the corpus is actually small.
    # Output order is UNSPECIFIED (same contract as corpus_filter /
    # dedup_keep_list): consumers JOIN the pair set — the composed
    # pipeline feeds it straight into duplicate_clusters, and a
    # whole-pair-table range exchange here would tax every pipeline run
    # for an ordering only the oracle hash needs; the gate adds orderBy
    # at registration (pinned by test_plan_audit's no-range-exchange
    # assertion on this path)
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def dedup_keep_list_for(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """The consumable OUTPUT of near-dup dedup: per doc, whether it
    survives (cluster canonical = the minimum doc_id of its connected
    component; unclustered docs always survive) — the keep/drop table a
    training pipeline anti-joins against before tokenization. Shared
    by the documents gate query and the composed transcript pipeline
    (conversation-level keeper selection over assembled conversations,
    where doc_id is a string conv_id). ``docs`` supplies the id
    universe (any orderable id type); ``clusters`` is a (doc_id,
    cluster_id) label table as produced by duplicate_clusters (only
    docs that appear in some near-dup pair need a row), so a caller
    that already clustered pays only the final join. Output order is
    UNSPECIFIED (consumers join, they don't scan in order — a
    corpus-wide range exchange here would tax every pipeline run for
    the oracle's benefit; the gate query adds orderBy at
    registration)."""
    return docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
            "cluster_id"
        ),
        (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        ).alias("keep"),
    )


def simhash_64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """-> (doc_id, simhash long): sign of per-bit +/-1 sums over token
    hashes — 64 conditional-sum aggregates, all JVM-side."""
    # NULL text stays NULL through split, so explode DROPS the doc —
    # intentionally: a doc with missing text is not a near-duplicate of
    # other missing-text docs (coalescing to '' would make every NULL
    # pair hamming-0 "duplicates"), matching verify_jaccard's None->0
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        sim = term if sim is None else sim.bitwiseXOR(term)
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming,
    via 4x16-bit band blocking. Pigeonhole: a pair within distance 3
    is GUARANTEED to share one exact 16-bit band, so recall is total at
    the default; max_hamming > 3 trades recall for reach (a pair at
    distance 4+ can spread one flip per band and be missed)."""
    sim = simhash_64(docs)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    left = bands.alias("l")
    right = bands.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("sim_a"),
            F.col("r.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def duplicate_clusters(
    pairs: DataFrame, max_iter: int | None = None
) -> DataFrame:
    """Eager: runs Spark jobs when called (label localCheckpoints).
    Near-duplicate CLUSTERS: connected components over the near-dup
    pair graph, labeled by each component's minimum doc_id.

    The step after pair-finding in a real dedup pipeline: pairs say
    "these two match"; keeping one canonical doc per GROUP needs the
    transitive closure. Min-label propagation (each node repeatedly
    takes the min label among itself and its neighbors) PLUS pointer
    jumping (then follows that label one more hop: label <- label of
    label) converges in O(log component-diameter) iterations — shallow
    dup clusters close in 2-3 rounds, and even a diameter-31 chain
    component (observed at sf0.1, threshold 0.1) closes in ~6. The
    loop runs TO CONVERGENCE by default (provably terminates — labels
    are monotone decreasing over a finite set) so output always equals
    the exact transitive closure the DuckDB oracle computes — a fixed
    cap would silently split long chain components; pass max_iter only
    to bound latency when approximate clusters are acceptable.

    Scale notes: each iteration is one broadcast-or-shuffle join of the
    edge list against the (small: only docs that appear in ANY pair)
    label table. Each iteration's labels are localCheckpoint(eager)ed,
    NOT merely persisted: ``new_labels`` references ``labels`` twice
    (directly and through ``neighbor_min``), so without a lineage cut
    the logical plan DOUBLES per iteration — at sf0.1 the convergence
    count's AQE plan string alone OOMed the driver heap around
    iteration ~10 while sf0.01 converged before the blow-up (caught by
    the sf0.1 oracle sweep; persist caches data but never truncates
    plans). Checkpointed iterations keep the plan constant-size; the
    superseded iteration's blocks are released by the ContextCleaner
    once the loop drops its reference (unpersist() is a no-op on
    checkpoint blocks — label tables are small, bounded by docs that
    appear in any pair). Convergence check is a count of changed labels
    (cheap, partial-agged). DuckDB oracle: recursive CTE reachability
    over the identical exact pair set.

    The returned label table is PERSISTED and materialized; the CALLER
    owns unpersisting it once downstream consumers have materialized.
    Output order is UNSPECIFIED (r4 contract): keeper selection and
    the composed pipeline JOIN the labels, so a baked-in orderBy would
    range-exchange the whole label table — bounded by docs-in-any-pair,
    still potentially billions at 100 TB — for an ordering only the
    gate oracle needs; the gate adds it at registration.
    """
    pairs = pairs.select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).persist()
    labels = None
    # released on every exit path: a leaked copy would have NO owner
    # and outlive every run in the session (ADVICE r3)
    try:
        labels = materialized(
            edges.select(F.col("doc_a").alias("doc_id"))
            .distinct()
            .withColumn("cluster_id", F.col("doc_id"))
        )
        rounds = itertools.count() if max_iter is None else range(max_iter)
        for _ in rounds:
            neighbor_min = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("cluster_id").alias("nbr_label"),
                    ),
                    "doc_b",
                )
                .groupBy(F.col("doc_a").alias("doc_id"))
                .agg(F.min("nbr_label").alias("nbr_min"))
            )
            # persisted: the pointer jump below references relabeled on
            # BOTH sides of its self-join — unpersisted, ReuseExchange
            # shares only the shuffle files and the post-shuffle agg +
            # left join + projection run twice per round (at 100 TB
            # label scale that doubles every iteration's relabel work)
            relabeled = (
                labels.join(neighbor_min, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                    ).alias("cluster_id"),
                )
                .persist()
            )
            # pointer jump: label <- label(label). Labels are always
            # node ids (initially self; thereafter minima of labels), so
            # the label table can look itself up — total inner join.
            # One extra small self-join per round turns O(diameter)
            # convergence into O(log diameter): the sf0.1 conversation
            # graph at threshold 0.1 has a diameter-31 chain component
            # (31 rounds, 37 s); jumped it converges in ~6. At 100 TB
            # chain-y graphs this is the difference between feasible
            # and not. localCheckpoint, not persist: cut the doubling
            # lineage at the materialized iteration result (see Scale
            # notes above).
            try:
                new_labels = (
                    relabeled.join(
                        relabeled.select(
                            F.col("doc_id").alias("_target"),
                            F.col("cluster_id").alias("_jump"),
                        ),
                        F.col("cluster_id") == F.col("_target"),
                    )
                    .select("doc_id", F.col("_jump").alias("cluster_id"))
                    .localCheckpoint(eager=True)
                )
            finally:
                relabeled.unpersist()
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .count()
            )
            labels.unpersist()  # releases iteration 0's cache; no-op after
            labels = new_labels
            if changed == 0:
                break
        # the CALLER owns the result (clean_and_pack releases it once
        # its decisions are checkpointed, the gate memo on eviction)
        return materialized(labels.select("doc_id", "cluster_id"))
    finally:
        edges.unpersist()
        if labels is not None:
            labels.unpersist()
