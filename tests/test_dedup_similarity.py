"""Training-data operators: dedup recall/precision, ANN recall,
multimodal plumbing — checked against exact in-Spark baselines (the
DuckDB oracles cover the SQL-expressible contracts separately)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry_mod
from v2_ocr_spark.fixtures.oracle_expected import round6
from v2_ocr_spark.operators import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"


def test_minhash_lsh_equals_exact_pairs(spark, documents):
    # pair-set output order is UNSPECIFIED (r4 contract) — sort here
    lsh = (
        entry_mod._doc_pairs(spark, SF, documents).toPandas()
        .sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    exact = (
        dedup.ngram_jaccard_pairs_for(documents).toPandas()
        .sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    assert lsh[["doc_a", "doc_b"]].values.tolist() == (
        exact[["doc_a", "doc_b"]].values.tolist()
    )
    assert (lsh["jaccard"] - exact["jaccard"]).abs().max() == 0


def test_minhash_jaccard_estimate_quality(spark, documents):
    """Signature agreement must approximate true Jaccard on near-dups."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig = dedup.minhash_signatures(docs, num_hashes=128)
    pairs = dedup.ngram_jaccard_pairs_for(documents, threshold=0.5)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select(
            "jaccard",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v,
                    )
                )
                / F.lit(128.0)
            ).alias("est"),
        )
        .toPandas()
    )
    assert not est.empty
    assert (est["jaccard"] - est["est"]).abs().max() < 0.25


def test_simhash_finds_near_dups(spark, documents):
    """Every high-Jaccard pair should be within small hamming distance,
    and background pairs should not flood in."""
    sim_pairs = dedup.simhash_pairs(documents, max_hamming=6).toPandas()
    exact = dedup.ngram_jaccard_pairs_for(documents, threshold=0.5).toPandas()
    sim_set = {tuple(r) for r in sim_pairs[["doc_a", "doc_b"]].values.tolist()}
    exact_set = {tuple(r) for r in exact[["doc_a", "doc_b"]].values.tolist()}
    found = len(exact_set & sim_set)
    # measured on this corpus: true near-dup pairs sit at hamming 0-9
    # (most <= 3); hamming <= 6 recalls >= 85% without candidate flood
    assert found >= 0.8 * len(exact_set)
    assert len(sim_pairs) < 20 * max(len(exact_set), 1)


def test_exact_duplicates_empty_on_unique_corpus(spark, documents):
    assert dedup.exact_duplicates(documents).count() == 0


def test_exact_duplicates_detects_planted(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    doubled = docs.unionByName(docs.where(F.col("doc_id") < 3))
    got = (
        doubled.groupBy("text")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("k"))
        .where(F.col("n_copies") > 1)
        .count()
    )
    assert got == 3


def test_ivf_recall_vs_brute_force(spark, embeddings):
    bf = similarity.brute_force_topk(embeddings, k=5, n_queries=10).toPandas()
    ivf = similarity.ivf_topk(
        embeddings, k=5, n_queries=10, nlist=8, nprobe=4
    ).toPandas()
    bf_set = {tuple(r) for r in bf[["query_id", "nbr_id"]].values.tolist()}
    ivf_set = {tuple(r) for r in ivf[["query_id", "nbr_id"]].values.tolist()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low for nprobe=half"


def test_brute_force_topk_shape(spark, embeddings):
    bf = similarity.brute_force_topk(embeddings, k=5, n_queries=10).toPandas()
    assert len(bf) == 50
    assert (bf.groupby("query_id")["rank"].max() == 5).all()
    assert (bf["cosine"] <= 1.0 + 1e-9).all()


def test_multimodal_meta_plumbing(spark, documents):
    meta = multimodal.image_meta(documents).toPandas()
    docs_n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(meta) == docs_n
    assert meta["magic_ok"].all()
    assert (meta["width"] > 0).all() and (meta["height"] > 0).all()
    assert (meta["byte_len"] > 12).all()


def test_multimodal_null_image_degrades(spark):
    # a NULL image cell is an undecodable payload, not a task failure
    # (bytes(None) TypeError'd the whole Spark task) — same contract
    # on both codec paths since the guard sits above the decoder
    imgs = spark.createDataFrame(
        [(1, bytearray(b"FIMG junk")), (2, None)],
        "doc_id long, image binary",
    )
    rows = {
        r["doc_id"]: r for r in multimodal.image_meta_for(imgs).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[2]["byte_len"] == 0 and not rows[2]["magic_ok"]
    assert (rows[2]["width"], rows[2]["height"]) == (0, 0)
    assert rows[2]["aspect"] == 0.0


def test_multimodal_real_codec_gate(spark):
    """Pillow gate mirrors the pdfminer gate: absent ->
    NotImplementedError at the decode entry point; present -> a real
    PNG decodes through the SAME mapInPandas plumbing (schema,
    batching, and the undecodable-row degrade are identical to the
    fake-codec path)."""
    if not multimodal.pil_available():
        with pytest.raises(NotImplementedError):
            multimodal.decode_real_image(b"\x89PNG")
        return
    import io  # pragma: no cover - exercised only with PIL present

    from PIL import Image  # pragma: no cover

    buf = io.BytesIO()  # pragma: no cover
    Image.new("RGB", (3, 2)).save(buf, format="PNG")  # pragma: no cover
    imgs = spark.createDataFrame(  # pragma: no cover
        [(1, bytearray(buf.getvalue())), (2, bytearray(b"junk"))],
        "doc_id long, image binary",
    )
    rows = {  # pragma: no cover
        r["doc_id"]: r
        for r in multimodal.image_meta_for(imgs, real_codec=True).collect()
    }
    assert rows[1]["magic_ok"] and (  # pragma: no cover
        rows[1]["width"], rows[1]["height"]
    ) == (3, 2)
    assert not rows[2]["magic_ok"]  # pragma: no cover
    assert (rows[2]["width"], rows[2]["height"]) == (0, 0)  # pragma: no cover


def test_multimodal_resize_plumbing(spark, documents):
    import struct

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    imgs = multimodal.with_fake_image(docs).select("doc_id", "image")
    orig = {r["doc_id"]: r for r in multimodal.image_meta(documents).collect()}
    resized = multimodal.resize_images(imgs, max_dim=256).collect()
    assert len(resized) == len(orig)
    for r in resized:
        assert 1 <= max(r["width"], r["height"]) <= 256
        # binary round-trip: header matches the reported dims
        b = bytes(r["image"])
        w, h = struct.unpack(">ii", b[4:12])
        assert (w, h) == (r["width"], r["height"])
        o = orig[r["doc_id"]]
        if max(o["width"], o["height"]) <= 256:
            assert (w, h) == (o["width"], o["height"])  # no upscale
        else:
            # aspect preserved within integer floor
            assert abs(w * o["height"] - h * o["width"]) <= max(
                o["width"], o["height"]
            )


def test_multimodal_frame_sampling(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vids = multimodal.with_fake_video(docs)
    frames = multimodal.sample_frames(vids, every_n=2)
    per_doc = {r["doc_id"]: r["cnt"] for r in frames.groupBy("doc_id")
               .agg(F.count("*").alias("cnt")).collect()}
    for r in vids.select("doc_id", "n_frames").collect():
        assert per_doc[r["doc_id"]] == -(-r["n_frames"] // 2)  # ceil
    idx = frames.select("frame_idx").distinct().collect()
    assert all(r["frame_idx"] % 2 == 0 for r in idx)


def test_multimodal_audio_pipeline(spark):
    import struct

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    audio = multimodal.with_fake_audio(docs)
    res = multimodal.resample_audio(audio, 16000)
    # resample preserves doc count, hits the target rate, scales samples
    orig = {r["doc_id"]: r for r in audio.collect()}
    for r in res.collect():
        o = orig[r["doc_id"]]
        assert r["sample_rate"] == 16000
        want = (
            o["n_samples"]
            if o["sample_rate"] == 16000
            else max(1, (o["n_samples"] * 16000) // o["sample_rate"])
        )
        assert r["n_samples"] == want
        b = bytes(r["audio"])
        assert struct.unpack(">ii", b[4:12]) == (16000, r["n_samples"])
    chunks = multimodal.chunk_audio(res, samples_per_chunk=256)
    per = (
        chunks.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum("n_samples").alias("tot"))
        .collect()
    )
    resn = {r["doc_id"]: r["n_samples"] for r in res.collect()}
    for r in per:
        n = resn[r["doc_id"]]
        assert r["n"] == -(-n // 256)  # ceil
        assert r["tot"] == n  # chunks tile the stream exactly


def test_srp_lsh_recall_vs_brute_force(spark, embeddings):
    """Seed-deterministic planes -> deterministic recall; must clear
    0.7 on the adversarial near-uniform fixture while scanning well
    under the full corpus per query."""
    bf = {(r["query_id"], r["nbr_id"])
          for r in similarity.brute_force_topk(embeddings).collect()}
    lsh = {(r["query_id"], r["nbr_id"])
           for r in similarity.srp_lsh_topk(embeddings).collect()}
    assert len(bf) == 50
    assert len(lsh & bf) / len(bf) >= 0.7
    # candidate volume stays a strict subset of the corpus
    emb = similarity.with_unit_norm(embeddings).select(
        "vec_id", "unit"
    )
    sig = similarity.srp_signatures(emb, 32, 6)
    qs = sig.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "table", "bucket"
    )
    n_cand = (
        sig.join(qs, ["table", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
        .count()
    )
    assert n_cand / 10 < 0.6 * 499


def test_duplicate_clusters_transitive(spark, documents):
    """Clusters are the transitive closure of the pair graph: every
    pair shares a cluster; the label is the component minimum."""
    pairs = entry_mod._doc_pairs(spark, SF, documents).collect()
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in entry_mod._doc_clusters(spark, SF, documents).collect()
    }
    assert pairs
    for r in pairs:
        assert labels[r["doc_a"]] == labels[r["doc_b"]]
    # label is the minimum member of its own component
    members = {}
    for doc, lab in labels.items():
        members.setdefault(lab, []).append(doc)
    for lab, docs in members.items():
        assert lab == min(docs)


def test_duplicate_clusters_long_chain(spark):
    """Worst-case topology: one diameter-63 path component. Pins two
    scale fixes at once — (a) per-iteration localCheckpoint (without
    it the loop's logical plan DOUBLES per round and rendering the
    convergence count's AQE plan string OOMed the driver at sf0.1;
    plain min-label needs 63 rounds here, 2^63 plan copies) and
    (b) pointer jumping (label <- label(label)), which closes the
    chain in ~6 rounds instead of 63 — the runtime difference between
    this test passing in seconds and hanging."""
    chain = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(63)],
        "doc_a long, doc_b long, jaccard double",
    )
    labels = dedup.duplicate_clusters(chain)
    rows = labels.collect()
    labels.unpersist()  # the caller owns the result
    assert len(rows) == 64
    assert {r["cluster_id"] for r in rows} == {0}


def test_approx_distinct_within_tolerance(spark, events):
    from v2_ocr_spark.operators import relational

    approx = {
        r["event_type"]: r["approx_users"]
        for r in relational.approx_distinct_users(events).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) <= max(3, 3 * 0.02 * exact[k]), (
            k, est, exact[k],
        )


def test_ngram_pairs_string_ids_match_numeric_ids(spark):
    """Pair output must be id-REPRESENTATION-invariant: the same
    corpus keyed by strings and by numbers yields the same pair set.
    This pins the contract against any future re-attempt of the
    probed-and-rejected r5 dictionary-encoding path (string ids ->
    dense longs -> restore with least/greatest; reverted in commit
    507de17 — AQE coalescing OOMed the small-heap smoke). Rows are
    inserted in NON-lexicographic order so a dictionary order would
    genuinely disagree with the string order — the exact condition
    under which a misoriented pair (the prototype bug) loses half
    the output."""
    import random

    rng = random.Random(11)
    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = []
    for i in range(30):
        words = base.split()
        if i % 3 == 0:
            words[rng.randrange(len(words))] = f"tok{i}"
        corpus.append((i, " ".join(words)))
    rng.shuffle(corpus)  # insertion order != id order != string order
    s_df = spark.createDataFrame(
        [(f"conv{i:04d}", t) for i, t in corpus], "doc_id string, text string"
    )
    n_df = spark.createDataFrame(corpus, "doc_id long, text string")
    got_s = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs_for(s_df, threshold=0.3).collect()
    }
    got_n = {
        (f"conv{r['doc_a']:04d}", f"conv{r['doc_b']:04d}", r["jaccard"])
        for r in dedup.ngram_jaccard_pairs_for(n_df, threshold=0.3).collect()
    }
    assert got_s == got_n and len(got_s) > 0
    # orientation: doc_a < doc_b must hold on the STRING ids
    assert all(a < b for a, b, _ in got_s)


def test_sample_stratified_matches_pure_python(spark, documents):
    """The stratified sampler's keep set equals an independent
    pure-Python md5-bucket derivation over the real sf0.001 documents
    — per-stratum cutoffs, default-rate fallback, bucket column and
    the keep-all stratum all pinned."""
    import hashlib

    from v2_ocr_spark.operators import corpus

    got = {
        (r["source"], r["doc_id"], r["bucket"])
        for r in corpus.sample_stratified_for(documents).collect()
    }
    cuts, default_cut = corpus.stratified_cutoffs()
    exp = set()
    for r in (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source", "doc_id")
        .collect()
    ):
        b = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:4], 16)
        if b < cuts.get(r["source"], default_cut):
            exp.add((r["source"], r["doc_id"], b))
    assert got == exp and len(got) > 0
    # the keep-all stratum keeps everything it has
    n_src0_all = sum(1 for s, _, _ in exp if s == "src0")
    n_src0_docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("source") == "src0")
        .count()
    )
    assert n_src0_all == n_src0_docs


def test_distinct_kmv_sketch(spark):
    """KMV bottom-k sketch: exact when the sketch is not full,
    (k-1)/u_k within ~3/sqrt(k-2) relative error when full, and the
    pure-Python twin (xxh64_long bottom-k) reproduces it exactly —
    the basis of the distinct_kmv DuckDB oracle."""
    from v2_ocr_spark.kernels.xxh import xxh64_long
    from v2_ocr_spark.operators.relational import distinct_kmv_for

    k = 64
    rows = [("small", u) for u in range(10)] + [
        ("big", 1000 + u) for u in range(2000)
    ]
    e = spark.createDataFrame(
        [(t, u) for t, u in rows for _ in range(2)],  # dup events
        "event_type string, user_id long",
    )
    got = {
        r["event_type"]: (r["sketch_size"], r["est_distinct"])
        for r in distinct_kmv_for(e, k).collect()
    }
    # not-full branch: exact
    assert got["small"] == (10, 10.0)
    # full branch: within 3 sigma of exact (sigma ~ n/sqrt(k-2))
    size, est = got["big"]
    assert size == k
    assert abs(est - 2000) <= 3 * 2000 / (k - 2) ** 0.5
    # pure-Python twin reproduces the estimate (oracle basis)
    hs = sorted(xxh64_long(1000 + u) for u in range(2000))
    u_k = hs[k - 1] / 2.0**64 + 0.5
    assert abs(est - (k - 1) / u_k) <= 5.001e-7


def test_token_pack_bins_respect_budget_and_order(spark, documents):
    """Packing is deterministic and per-source: starts are the
    exclusive running sum in doc_id order, bins are start // budget."""
    from v2_ocr_spark.operators import corpus

    df = corpus.token_pack_for(documents, budget=100)
    # bin must be BIGINT: an int32 bin wraps negative once any source
    # exceeds budget * 2^31 tokens (~4.4e12 at budget 2048 — inside
    # the design scale); pinned here so a cast("int") can't come back
    assert dict(df.dtypes)["bin"] == "bigint"
    out = df.toPandas()
    for src, g in out.groupby("source"):
        g = g.sort_values("doc_id").reset_index(drop=True)
        run = 0
        for _, r in g.iterrows():
            if r.n_tokens is None:
                continue
            assert r.start_token == run
            assert r.bin == run // 100
            run += r.n_tokens


def test_token_pack_two_phase_equals_single_window(spark):
    """The distributed prefix sum must be byte-identical to the naive
    single-window formulation, at every shard count (boundaries move,
    results don't)."""
    from pyspark.sql.window import Window

    from v2_ocr_spark.operators import corpus
    from v2_ocr_spark.operators.textstats import BPE_ISH

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        docs.select(
            "source", "doc_id",
            F.regexp_count("text", F.lit(BPE_ISH)).alias("n_tokens"),
        )
        .select(
            "source", "doc_id", "n_tokens",
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            .cast("bigint").alias("start_token"),
        )
        .select(
            "source", "doc_id", "n_tokens", "start_token",
            F.expr("start_token DIV 100").alias("bin"),
        )
        .toPandas()
        .sort_values(["source", "doc_id"])
        .reset_index(drop=True)
    )
    for shards in (1, 7, 32):
        got = (
            corpus.token_pack_for(docs, budget=100, shards=shards)
            .toPandas()
            .sort_values(["source", "doc_id"])
            .reset_index(drop=True)
        )
        assert got.equals(naive), f"shards={shards}"


def test_cross_source_overlap_counts_distinct_shared(spark, documents):
    from v2_ocr_spark.operators import corpus

    out = corpus.cross_source_overlap(documents).toPandas()
    assert (out.source_a < out.source_b).all()  # one row per unordered pair
    assert (out.shared_shingles > 0).all()


def test_cross_source_overlap_max_df_drops_boilerplate(spark, tmp_path):
    """A viral shingle present in every doc must be excludable: with
    max_df set below its document frequency the pair counts keep only
    the informative (sub-cap) shared shingles."""
    from v2_ocr_spark.operators import corpus

    d = str(tmp_path / "docs")
    boiler = "click here to subscribe now"   # 5-gram in every doc
    rows = [
        (1, f"{boiler} alpha beta gamma delta epsilon", "x", "src_a", 50),
        (2, f"{boiler} alpha beta gamma delta epsilon", "x", "src_b", 50),
        (3, f"{boiler} zeta eta theta iota kappa", "x", "src_b", 50),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    docs = spark.read.parquet(f"{d}/documents.parquet")
    exact = {
        (r.source_a, r.source_b): r.shared_shingles
        for r in corpus.cross_source_overlap(docs).collect()
    }
    capped = {
        (r.source_a, r.source_b): r.shared_shingles
        for r in corpus.cross_source_overlap(docs, max_df=2).collect()
    }
    # the boilerplate 5-gram (df=3) is in every doc: it is the only
    # shingle src_a shares with doc 3's half of src_b; dropping it
    # must strictly reduce the count, never invent pairs
    assert exact[("src_a", "src_b")] > capped[("src_a", "src_b")]
    assert set(capped) <= set(exact)


def test_ngram_jaccard_max_df_is_symmetric(spark, tmp_path):
    """max_df must remove capped shingles from numerator AND
    denominator: two docs identical except for one viral shingle they
    both contain still score J=1.0 over the reduced universe (the
    round-2 formulation kept the capped shingle in the union and
    reported J<1)."""
    from v2_ocr_spark.operators import dedup

    d = str(tmp_path / "docs")
    viral = "all rights reserved"
    rows = [(i, f"doc {i} unique words {viral}", "x", "s", 30)
            for i in range(1, 5)]
    # docs 1 and 2 share their tail; make them true near-dups
    rows[0] = (1, f"shared body of text here {viral}", "x", "s", 30)
    rows[1] = (2, f"shared body of text here {viral}", "x", "s", 30)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_for(
            spark.read.parquet(f"{d}/documents.parquet"),
            threshold=0.5, max_df=3,
        ).collect()
    }
    # every trigram containing the viral tail has df<=2 except the
    # viral trigram itself (df=4, capped); (1,2) remain identical over
    # the reduced universe
    assert got.get((1, 2)) == 1.0


def test_vocabulary_topk_order(spark, documents):
    from v2_ocr_spark.operators import corpus

    out = corpus.vocabulary_topk(documents, k=10).toPandas()
    ns = list(out.n)
    assert ns == sorted(ns, reverse=True)
    assert len(out) <= 10


def test_ngram_jaccard_null_and_empty_text_policy(spark, tmp_path):
    """Inverted-index Jaccard must keep the oracle-exact NULL policy:
    NULL-text docs join nothing (excluded), while two ''-docs share the
    single '' shingle and score 1.0 (DuckDB string_split('') is [''])."""
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "a b c d", "x", "s", 7),
            (2, "a b c d", "x", "s", 7),   # exact dup of 1 -> J=1.0
            (3, None, "x", "s", 0),        # NULL: no pairs ever
            (4, None, "x", "s", 0),
            (5, "", "x", "s", 0),          # '' pair -> J=1.0
            (6, "", "x", "s", 0),
            (7, "z z z z", "x", "s", 7),   # no overlap with anything
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_for(
            spark.read.parquet(f"{d}/documents.parquet"), threshold=0.5
        ).collect()
    }
    assert got == {(1, 2): 1.0, (5, 6): 1.0}


def test_image_dhash_near_dup_pairs(spark, tmp_path):
    """Perceptual-hash image dedup: identical pixel payloads pair at
    hamming 0; a lightly-perturbed payload pairs within the threshold;
    undecodable images never hash (and so never pair)."""
    base = "the quick brown fox jumps over the lazy dog " * 20
    docs = spark.createDataFrame(
        [
            (1, base, "en", "s", len(base)),
            (2, base, "en", "s", len(base)),            # identical -> h=0
            # same length, a few chars flipped — the length-preserving
            # perturbation a re-encode produces (sampling is index-based)
            (3, base[:-3] + "cat", "en", "s", 0),
            (4, "completely different content about spark plans and "
                "parquet footers, nothing shared with the fox at all "
                "xyzzy " * 15, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "imgdocs")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in multimodal.image_near_dup_pairs(
            spark.read.parquet(f"{d}/documents.parquet"), max_hamming=6
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 6
    assert not any(4 in p for p in pairs)

    # undecodable image drops out of the hash table entirely
    bad = multimodal.image_dhash(
        spark.createDataFrame(
            [(9, bytearray(b"NOPE")), (10, bytearray(b""))],
            "doc_id long, image binary",
        )
    )
    assert bad.count() == 0


def test_ngram_jaccard_equals_bruteforce_on_random_corpus(spark, tmp_path):
    """Equivalence of the inverted-index formulation with the all-pairs
    definition on a seeded random corpus (repeats, shared phrases,
    short docs, unicode) — the structural proof behind replacing the
    crossJoin: J >= t > 0 implies a shared shingle, so the equi-join
    sees every qualifying pair."""
    import itertools
    import random

    rng = random.Random(4242)
    vocab = ["alpha", "beta", "gamma", "δ", "épsilon", "zeta", "eta"]
    texts = []
    for i in range(40):
        n = rng.randint(1, 12)
        words = [rng.choice(vocab) for _ in range(n)]
        texts.append(" ".join(words))
    # plant heavy near-dups: copies with one word flipped
    for i in range(5):
        t = texts[i].split(" ")
        t[rng.randrange(len(t))] = rng.choice(vocab)
        texts.append(" ".join(t))
    rows = [
        (i, t, "en", "s", len(t)) for i, t in enumerate(texts)
    ]
    d = str(tmp_path / "rand")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    def shingles(t):
        toks = t.split(" ")
        m = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(m)}

    brute = {}
    for (ia, ta), (ib, tb) in itertools.combinations(
        [(i, t) for i, t, *_ in rows], 2
    ):
        sa, sb = shingles(ta), shingles(tb)
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.5:
            # round6, not round(): Spark/DuckDB round the shortest
            # decimal string HALF_UP; Python round() diverges at
            # exactly-representable midpoints like 1/128 = 0.0078125
            # (see oracle_expected.round6)
            brute[(ia, ib)] = round6(j)

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_for(
            spark.read.parquet(f"{d}/documents.parquet"), threshold=0.5
        ).collect()
    }
    assert got == brute
    assert brute  # the corpus actually produced qualifying pairs


def test_dedup_keep_list_matches_clusters(spark, documents):
    """keep == (not a non-canonical cluster member); every doc appears
    exactly once; survivors = corpus minus dropped members."""
    clusters = entry_mod._doc_clusters(spark, SF, documents).toPandas()
    keep = dedup.dedup_keep_list_for(
        documents, entry_mod._doc_clusters(spark, SF, documents)
    ).toPandas()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(keep) == n_docs
    dropped = set(keep.loc[~keep.keep, "doc_id"])
    non_canonical = set(
        clusters.loc[clusters.doc_id != clusters.cluster_id, "doc_id"]
    )
    assert dropped == non_canonical
    # canonical members and unclustered docs keep their own id
    kept = keep[keep.keep]
    assert (kept.doc_id == kept.cluster_id).all()


def test_corpus_filter_reason_precedence(spark, documents):
    """Reasons compose in fixed order: too_short beats lang beats
    low_quality beats near_duplicate; keep iff reason == 'kept'."""
    from v2_ocr_spark.operators import corpus

    out = entry_mod._corpus_filter(spark, SF, documents).toPandas()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "n_chars")
        .toPandas()
    )
    j = out.merge(docs, on="doc_id")
    assert (j.loc[j.n_chars < 100, "reason"] == "too_short").all()
    assert ((j.reason == "kept") == j.keep).all()
    langs = {"en", "de", "fr", "es"}
    bad_lang = j[(j.n_chars >= 100) & (~j.pred_lang.isin(langs))]
    assert (bad_lang.reason == "lang").all()
    assert set(j.reason) <= {
        "too_short", "lang", "low_quality", "near_duplicate", "kept"
    }
    assert j.keep.any() and (~j.keep).any()  # filter actually filters


def test_zero_vector_never_ranks_as_neighbor(spark, tmp_path):
    """Review regression: a zero embedding has no direction — it must
    be dropped at normalization, not become a NaN cosine that Spark
    ranks FIRST in every top-k window (NaN > all doubles in Spark)."""
    import numpy as np

    rows = []
    rng = np.random.default_rng(7)
    for i in range(20):
        rows.append((i, [float(x) for x in rng.standard_normal(8)], 0))
    rows.append((99, [0.0] * 8, 0))  # the zero vector
    d = str(tmp_path / "zv")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    emb = spark.read.parquet(f"{d}/embeddings.parquet")

    bf = similarity.brute_force_topk(emb, k=3, n_queries=2).toPandas()
    assert 99 not in set(bf.nbr_id)          # never a neighbor
    assert not bf.cosine.isna().any()        # and no NaN scores at all
    nd = similarity.cosine_near_dup_pairs(emb, threshold=0.0).toPandas()
    assert 99 not in set(nd.id_a) | set(nd.id_b)


def test_nonfinite_vector_never_ranks_as_neighbor(spark, tmp_path):
    """Review regression (r4): a vector containing NaN/Inf/NULL
    elements survives `exists(x != 0)` (NaN != 0 is TRUE — NaN
    compares greater than every double in Spark) and would normalize
    to a NaN unit vector that poisons every dot product and ranks
    FIRST in every desc top-k window. with_unit_norm must drop it at
    the JVM filter; _unit_pd nulls non-finite norms as defense in
    depth."""
    import numpy as np

    rows = []
    rng = np.random.default_rng(11)
    for i in range(20):
        rows.append((i, [float(x) for x in rng.standard_normal(8)], 0))
    rows.append((97, [float("nan")] + [1.0] * 7, 0))
    rows.append((98, [float("inf")] + [1.0] * 7, 0))
    rows.append((99, [None] + [1.0] * 7, 0))
    d = str(tmp_path / "nf")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    emb = spark.read.parquet(f"{d}/embeddings.parquet")

    bf = similarity.brute_force_topk(emb, k=3, n_queries=2).toPandas()
    assert not {97, 98, 99} & set(bf.nbr_id)  # never neighbors
    assert not bf.cosine.isna().any()         # and no NaN scores at all
    srp = similarity.srp_lsh_topk(emb, k=3, n_queries=2).toPandas()
    assert not {97, 98, 99} & set(srp.nbr_id)
    assert not srp.cosine.isna().any()


def test_ngram_jaccard_rejects_nonpositive_threshold(spark, documents):
    with pytest.raises(ValueError, match="threshold > 0"):
        dedup.ngram_jaccard_pairs_for(documents, threshold=0.0)


def test_pairs_cache_invalidates_on_input_rewrite(spark, tmp_path):
    """Review regression: rewriting the input IN-SESSION must not serve
    memoized pairs from the old corpus (the gate memo keys carry a
    content sig), and the superseded pair set and cluster labels must
    be released, not left persisted beside the new ones."""
    q = entry_mod.queries()
    d = str(tmp_path / "mut")
    path = f"{d}/documents.parquet"
    base = spark.read.parquet(f"{SF}/documents.parquet")
    base.limit(50).write.mode("overwrite").parquet(path)
    first = q["dedup_minhash_lsh"](spark, d).count()
    q["dedup_clusters"](spark, d).count()
    docs = spark.read.parquet(path)
    old_pairs = entry_mod._doc_pairs(spark, d, docs)
    old_labels = entry_mod._doc_clusters(spark, d, docs)
    assert old_pairs.is_cached and old_labels.is_cached
    # rewrite with a corpus that contains planted exact duplicates
    dup = base.limit(10)
    two = dup.unionByName(
        dup.select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    two.write.mode("overwrite").parquet(path)
    second = q["dedup_minhash_lsh"](spark, d).count()
    q["dedup_clusters"](spark, d).count()
    assert second >= 10  # the 10 planted dup pairs — not the stale set
    assert second != first or first >= 10
    # the superseded signature's entries are evicted and unpersisted
    assert not old_pairs.is_cached and not old_labels.is_cached
    assert sum(k[1] == path for k in entry_mod._MEMO) == 2


def test_blas_dot_equals_column_formulation(spark, embeddings):
    """The Arrow/BLAS dot product and the engine-portable Column
    formulation must agree to double precision — over DISTINCT vector
    pairs (a self-join on equal ids would only ever compute ||u||^2
    ~ 1.0 and pin nothing), selected deterministically (limit without
    an order is plan-dependent)."""
    emb = similarity.with_unit_norm(embeddings).where(
        F.col("vec_id") < 20
    )
    a = emb.select(F.col("vec_id").alias("ia"), F.col("unit").alias("ua"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("unit").alias("ub"))
    both = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            similarity._dot(F.col("ua"), F.col("ub")).alias("col_dot"),
            similarity._dot_pd(F.col("ua"), F.col("ub")).alias("blas_dot"),
        )
        .toPandas()
    )
    assert len(both) == 190  # C(20, 2) distinct pairs
    assert both.col_dot.abs().max() < 1.0  # genuinely distinct vectors
    assert (both.col_dot - both.blas_dot).abs().max() < 1e-12


def test_dedup_lines_keeps_first_occurrence_order(spark, tmp_path):
    from v2_ocr_spark.operators import textstats

    d = str(tmp_path / "lines")
    spark.createDataFrame(
        [
            (1, "b\na\nb\nc\na", "en", "s", 9),
            (2, "solo", "en", "s", 4),
            (3, None, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    docs = spark.read.parquet(f"{d}/documents.parquet")
    got = {r.doc_id: r.dedup_text for r in textstats.dedup_lines(docs).collect()}
    assert got == {1: "b\na\nc", 2: "solo"}  # order kept; NULL doc excluded


def test_minhash_lsh_pairs_for_string_ids(spark):
    """The generic MinHash path (the composed pipeline's sub-quadratic
    dedup over string conv_ids) must equal the exact inverted-index
    pairs — same id ordering, same verified Jaccard — on a corpus
    whose every stage runs through string keys."""
    base = spark.read.parquet(f"{SF}/documents.parquet")
    docs = base.select(
        F.concat(F.lit("conv"), F.lpad(F.col("doc_id").cast("string"),
                                       8, "0")).alias("doc_id"),
        "text",
    )
    pairs_df = dedup.minhash_lsh_pairs_for(docs, threshold=0.5)
    try:
        # pair-set output order is UNSPECIFIED (r4 contract) — sort here
        got = (
            pairs_df.toPandas()
            .sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
        )
        exact = (
            dedup.ngram_jaccard_pairs_for(docs, threshold=0.5)
            .orderBy("doc_a", "doc_b")
            .toPandas()
        )
        assert len(got) > 0
        assert got["doc_a"].map(type).eq(str).all()
        assert got[["doc_a", "doc_b"]].values.tolist() == (
            exact[["doc_a", "doc_b"]].values.tolist()
        )
        assert (got["jaccard"] - exact["jaccard"]).abs().max() == 0
    finally:
        # _for hands ownership of the persisted pair set to the caller
        pairs_df.unpersist()
