from pyspark.sql import functions as F

from wellmeet_data_pipeline_spark.operators.corpus import (
    as_of_join,
    decontaminate,
    repetition_stats,
    scrub_pii,
    stratified_sample_exact,
    tfidf_top_terms,
)


def test_scrub_pii_all_categories(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.org visit https://x.io/p?a=1 ip 192.168.0.1 call +82 10-1234-5678 done")],
        "id long, text string",
    )
    got = scrub_pii(df, "text", "clean").collect()[0]["clean"]
    assert got == "mail <EMAIL> visit <URL> ip <IP> call <PHONE> done"


def test_decontaminate_drops_only_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),
            (2, "a totally different document body here"),
            (3, "quick brown fox appears again elsewhere"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox run")], "doc_id long, text string"
    )
    # docs 1 and 3 share the 3-gram 'quick brown fox' with the benchmark
    kept = {r["doc_id"] for r in decontaminate(corpus, bench).collect()}
    assert kept == {2}


def test_repetition_stats_flags_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "all words here are fully distinct"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df, shingle_n=2).collect()}
    assert got[1]["n_grams"] == 5 and got[1]["n_distinct"] == 1
    assert got[1]["dup_ratio"] == 0.8
    assert got[2]["dup_ratio"] == 0.0


def test_stratified_sample_exact_quota_and_determinism(spark):
    rows = [(i, "a" if i < 40 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    s1 = sorted(r["doc_id"] for r in stratified_sample_exact(df, ["lang"], 0.25, "doc_id").collect())
    s2 = sorted(
        r["doc_id"]
        for r in stratified_sample_exact(df.repartition(7), ["lang"], 0.25, "doc_id").collect()
    )
    assert s1 == s2  # partitioning-independent
    by_lang = {"a": 0, "b": 0}
    got = stratified_sample_exact(df, ["lang"], 0.25, "doc_id").collect()
    for r in got:
        by_lang[r["lang"]] += 1
    assert by_lang == {"a": 10, "b": 15}  # exact per-stratum quota


def test_tfidf_top_terms_ranks_rare_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common common yak"),
            (3, "common word salad"),
        ],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["rank"]): r["term"] for r in tfidf_top_terms(df, k=1).collect()}
    # 'common' appears in every doc -> idf 0; the unique term wins per doc
    assert got[(1, 1)] == "zebra"
    assert got[(2, 1)] == "yak"


def test_as_of_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (10, 1, "2024-01-01 00:05:00"),
            (11, 1, "2024-01-01 00:10:00"),
            (12, 2, "2024-01-01 00:01:00"),  # no prior purchase
        ],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:03:00", 5.0),
            (2, 1, "2024-01-01 00:05:00", 7.0),   # same ts as click 10 -> <= wins
            (3, 1, "2024-01-01 00:05:00", 9.0),   # tie on ts -> max event_id wins
            (4, 1, "2024-01-01 00:30:00", 11.0),  # after both clicks
        ],
        "event_id long, user_id long, ts_s string, value double",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    got = {
        r["event_id"]: (r["asof_value"], r["asof_ts"])
        for r in as_of_join(left, right, "user_id", "ts", "value", "event_id").collect()
    }
    assert got[10][0] == 9.0  # equal-ts purchase visible, event_id 3 beats 2
    assert got[11][0] == 9.0  # 00:30 purchase not yet visible
    assert got[12] == (None, None)


def test_embedding_lsh_recovers_planted_dups(spark):
    import numpy as np

    from wellmeet_data_pipeline_spark.operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(3)
    X = rng.normal(size=(200, 32)).astype(np.float32)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(200)]
    # plant exact copies of vectors 0..9 as ids 1000..1009
    rows += [(1000 + i, [float(x) for x in X[i]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    lsh = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in embedding_near_dup_lsh(df, threshold=0.99, dim=32).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in embedding_near_dup_pairs(df, threshold=0.99).collect()
    }
    planted = {(i, 1000 + i) for i in range(10)}
    assert planted <= set(lsh)  # hamming 0 pairs always collide in every band
    assert lsh == exact  # on this corpus the LSH tier loses nothing vs exact


def test_streaming_corpus_pipeline(spark, tmp_path):
    """Landing docs -> scrub -> quality gate -> decontaminate -> fingerprint
    dedup vs store, across two activations."""
    import json

    from wellmeet_data_pipeline_spark.streaming.corpus import (
        read_corpus,
        run_corpus_pipeline,
    )

    landing = tmp_path / "doc_landing"
    landing.mkdir()
    store = str(tmp_path / "corpus_store")
    ckpt = str(tmp_path / "corpus_ckpt")
    schema = "doc_id long, text string"
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(schema)

    bench = spark.createDataFrame(
        [(900, "the secret benchmark question answer pair")], "doc_id long, text string"
    )

    batch1 = [
        {"doc_id": 1, "text": "a clean document with plenty of words mail me@x.org"},
        {"doc_id": 2, "text": "contains the secret benchmark question answer pair inside"},  # contaminated
        {"doc_id": 3, "text": "too short"},  # quality gate (min 3 tokens)
    ]
    (landing / "b1.json").write_text(json.dumps(batch1))
    run_corpus_pipeline(spark, str(landing), store, ckpt, schema, bench)

    cur = read_corpus(spark, store)
    rows = {r["doc_id"]: r["text"] for r in cur.collect()}
    assert set(rows) == {1}
    assert "<EMAIL>" in rows[1] and "me@x.org" not in rows[1]

    batch2 = [
        {"doc_id": 4, "text": "a clean document with plenty of words mail other@y.io"},  # same content post-scrub
        {"doc_id": 5, "text": "an entirely new document body with many distinct words"},
    ]
    (landing / "b2.json").write_text(json.dumps(batch2))
    run_corpus_pipeline(spark, str(landing), store, ckpt, schema, bench)

    got = {r["doc_id"] for r in read_corpus(spark, store).collect()}
    # doc 4 normalizes+scrubs to doc 1's fingerprint -> deduped cross-batch
    assert got == {1, 5}


def test_hash_split_stable_under_corpus_growth(spark):
    """A doc's split assignment is a pure function of its id: adding new
    docs (corpus growth) must never migrate an existing doc between
    splits — the property randomSplit and rank-quota schemes lack."""
    from wellmeet_data_pipeline_spark.operators.corpus import hash_split

    small = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(small).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(big).collect()}
    assert all(b[k] == v for k, v in a.items())
    # all three splits materialize and roughly follow the fractions
    from collections import Counter

    c = Counter(b.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_rebalance_sources_caps_dominant_source(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import rebalance_sources

    rows = [(i, "giant") for i in range(90)] + [(100 + i, "tiny") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = rebalance_sources(df, max_share=0.2)
    by_src = {r["source"]: r["cnt"] for r in out.groupBy("source").agg(
        F.count("*").alias("cnt")).collect()}
    assert by_src == {"giant": 20, "tiny": 10}  # cap = ceil(0.2*100); tiny untouched
    # deterministic: same survivors on re-run
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in rebalance_sources(df, max_share=0.2).collect()
    )


def test_top_ngrams_per_group_counts_occurrences(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import top_ngrams_per_group

    df = spark.createDataFrame(
        [
            (1, "en", "big cat big cat small dog"),
            (2, "en", "big cat again"),
            (3, "ko", "small dog"),
        ],
        "doc_id long, lang string, text string",
    )
    out = top_ngrams_per_group(df, "lang", n=2, k=2).collect()
    en = {(r["ngram"], r["n_occurrences"]) for r in out if r["lang"] == "en"}
    assert ("big cat", 3) in en  # occurrences, not distinct docs
    assert {r["ngram"] for r in out if r["lang"] == "ko"} == {"small dog"}


def test_trim_outliers_per_group_drops_tails(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import trim_outliers_per_group

    df = spark.createDataFrame(
        [(i, "en", i) for i in range(1, 101)], "doc_id long, lang string, n_chars long"
    )
    kept = sorted(r["n_chars"] for r in trim_outliers_per_group(df, lo=0.1, hi=0.9).collect())
    assert kept == list(range(11, 91))  # bottom 10 and top 10 gone


def test_streaming_corpus_near_dup_lsh(spark, tmp_path):
    """Streaming MinHash-LSH near-dup: in-batch clusters collapse to the
    min-id doc; later batches are probed against the PERSISTED bucket
    store (store docs are never re-shingled) and near-dups of stored
    docs are dropped while novel docs pass."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.corpus import (
        read_corpus,
        run_corpus_pipeline,
    )

    landing = tmp_path / "nd_landing"
    landing.mkdir()
    store = str(tmp_path / "nd_store")
    ckpt = str(tmp_path / "nd_ckpt")
    sigs = str(tmp_path / "nd_sigs")
    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame([(900, "unrelated benchmark row")], "doc_id long, text string")

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    batch1 = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base + " extra"},  # near-dup of 1 (same batch)
        {"doc_id": 3, "text": "completely different content about spark shuffle partitions and codegen stages"},
    ]
    (landing / "b1.json").write_text(json.dumps(batch1))
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench,
        near_dup=True, sig_store_path=sigs,
    )
    assert {r["doc_id"] for r in read_corpus(spark, store).collect()} == {1, 3}

    batch2 = [
        {"doc_id": 4, "text": base + " again"},  # near-dup of stored doc 1
        {"doc_id": 5, "text": "a genuinely novel document mentioning watermarks and stateful aggregation semantics"},
    ]
    (landing / "b2.json").write_text(json.dumps(batch2))
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench,
        near_dup=True, sig_store_path=sigs,
    )
    assert {r["doc_id"] for r in read_corpus(spark, store).collect()} == {1, 3, 5}


def test_line_dedup_global_keep_first_and_reassembly(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import line_dedup_global

    df = spark.createDataFrame(
        [
            (1, "cookie banner\nreal content one\nfooter"),
            (2, "cookie banner\nreal content two\nfooter"),
            (3, "cookie banner\nfooter"),  # nothing novel -> vanishes
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["text"], r["n_lines"]) for r in line_dedup_global(df).collect()}
    assert got == {
        1: ("cookie banner\nreal content one\nfooter", 3),
        2: ("real content two", 1),
    }


def test_duplicate_line_stats_fractions(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import duplicate_line_stats

    df = spark.createDataFrame(
        [(1, "aa\nbb\naa\naa"), (2, "xx\nyy")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in duplicate_line_stats(df).collect()}
    r1 = got[1]
    assert (r1["n_lines"], r1["n_distinct"]) == (4, 2)
    assert r1["dup_line_frac"] == 0.5  # 2 of 4 occurrences are repeats
    assert r1["dup_char_frac"] == 0.5  # 4 of 8 chars sit in repeated lines
    r2 = got[2]
    assert r2["dup_line_frac"] == 0.0 and r2["dup_char_frac"] == 0.0


def test_pack_sequences_contiguous_offsets(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import pack_sequences

    # one stream (n_streams=1): docs of 6,6,6 tokens into seq_len=10 packs
    df = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "g h i j k l"), (2, "m n o p q r")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pack_sequences(df, seq_len=10, n_streams=1).collect()}
    assert (got[0]["pack_id"], got[0]["offset"]) == (0, 0)
    assert (got[1]["pack_id"], got[1]["offset"]) == (0, 6)   # starts in pack 0, straddles
    assert (got[2]["pack_id"], got[2]["offset"]) == (1, 2)   # cum 12 -> pack 1 offset 2
    # sharding is deterministic: doc_id % n_streams
    sharded = pack_sequences(df, seq_len=10, n_streams=2).collect()
    assert {r["doc_id"]: r["stream_id"] for r in sharded} == {0: 0, 1: 1, 2: 0}


def test_pack_sequences_auto_streams_scale_with_input(spark):
    """n_streams=None auto-sizes: never below defaultParallelism, and the
    stream count must GROW with input size (a fixed default is a
    parallelism ceiling — 8 streams over 100 TB = 8 giant sort tasks)."""
    from pyspark.sql import functions as F

    from wellmeet_data_pipeline_spark.operators.corpus import pack_sequences

    par = spark.sparkContext.defaultParallelism
    small = spark.range(100).select(F.col("id").alias("doc_id"), F.lit("a b c").alias("text"))
    big = spark.range(3200).select(F.col("id").alias("doc_id"), F.lit("a b c").alias("text"))
    n_small = (
        pack_sequences(small, seq_len=16, rows_per_stream=100)
        .agg(F.countDistinct("stream_id").alias("n")).collect()[0]["n"]
    )
    n_big = (
        pack_sequences(big, seq_len=16, rows_per_stream=100)
        .agg(F.countDistinct("stream_id").alias("n")).collect()[0]["n"]
    )
    assert n_small == max(par, 1)          # floor at cluster parallelism
    assert n_big == max(par, 32)           # ceil(3200/100) once input outgrows it
    assert n_big > n_small or par >= 32


def test_minhash_verify_estimate_tracks_exact_jaccard(spark):
    from wellmeet_data_pipeline_spark.operators.dedup import minhash_verify_sha

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " w13"),  # near-dup of 1: high exact jaccard
            (3, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),
        ],
        "doc_id long, text string",
    )
    rows = minhash_verify_sha(df, num_hashes=16, bands=4).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in rows}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r["jaccard"] == round(10 / 11, 6)  # 10 shared 3-gram shingles, union 11
    assert 0.5 <= r["est_jaccard"] <= 1.0     # 16-hash estimate is coarse but close
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_temperature_sample_flattens_skewed_mix(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import temperature_sample_sources

    rows = [(i, "big") for i in range(90)] + [(100 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample_sources(df, alpha=0.5).groupBy("source").count().collect()
    got = {r["source"]: r["count"] for r in out}
    # z = sqrt(90)+sqrt(10); quotas: big -> ceil(100*sqrt(90)/z) = 75 (downsampled),
    # small -> min(10, ceil(100*sqrt(10)/z)=26) = 10 (kept whole)
    assert got == {"big": 75, "small": 10}
    # deterministic: same survivors on rerun
    a = sorted(r["doc_id"] for r in temperature_sample_sources(df, alpha=0.5).collect())
    b = sorted(r["doc_id"] for r in temperature_sample_sources(df, alpha=0.5).collect())
    assert a == b


def test_chunk_documents_overlap_and_clamp(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string"
    )
    got = {r["chunk_no"]: r for r in chunk_documents(df, window=4, stride=2).collect()}
    assert got[0]["chunk_text"] == "w0 w1 w2 w3"
    assert got[1]["chunk_text"] == "w2 w3 w4 w5"       # 50% overlap
    assert got[4]["chunk_text"] == "w8 w9"             # clamped tail
    assert got[4]["n_chunk_tokens"] == 2
    assert set(got) == {0, 1, 2, 3, 4}                 # starts 0,2,4,6,8


def test_contamination_report_fractions(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import contamination_report

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),      # shares 'alpha beta gamma'
            (2, "one two three four five six"),         # clean
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma unrelated tail")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in contamination_report(corpus, bench).collect()}
    assert got[1]["n_shingles"] == 3 and got[1]["n_contaminated"] == 1
    assert got[1]["contamination_frac"] == round(1 / 3, 6)
    assert got[2]["n_contaminated"] == 0 and got[2]["contamination_frac"] == 0.0


def test_remove_repeated_spans_exactsubstr_semantics(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import remove_repeated_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),          # first occurrence of everything: untouched
            (2, "x a b c y"),          # 'a b c' repeats -> those 3 tokens cut
            (3, "a b c d e"),          # every token covered -> doc vanishes
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_repeated_spans(df, span_w=3).collect()}
    assert got[1]["text"] == "a b c d e" and got[1]["n_tokens_removed"] == 0
    assert got[2]["text"] == "x y" and got[2]["n_tokens_removed"] == 3
    assert 3 not in got


def test_line_dedup_regex_metachar_delimiter(spark):
    """delim is a LITERAL: '|' must split on the pipe character, not act
    as the regex alternation that matches the empty string everywhere."""
    from wellmeet_data_pipeline_spark.operators.corpus import line_dedup_global

    df = spark.createDataFrame(
        [(1, "seg one|seg two"), (2, "seg one|seg three")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in line_dedup_global(df, delim="|").collect()}
    assert got == {1: "seg one|seg two", 2: "seg three"}


def test_streaming_near_dup_survives_sig_store_replay(spark, tmp_path):
    """Crash-replay safety: if a previous attempt appended the batch's OWN
    signatures to the sig store but died before the corpus write, the
    replayed batch must NOT collide with itself and vanish."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.operators.dedup import minhash_band_buckets
    from wellmeet_data_pipeline_spark.sinks.merge import merge_append
    from wellmeet_data_pipeline_spark.streaming.corpus import (
        read_corpus,
        run_corpus_pipeline,
    )

    landing = tmp_path / "rp_landing"
    landing.mkdir()
    store, ckpt, sigs = (
        str(tmp_path / "rp_store"),
        str(tmp_path / "rp_ckpt"),
        str(tmp_path / "rp_sigs"),
    )
    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame([(900, "unrelated benchmark")], "doc_id long, text string")

    batch = [
        {"doc_id": 1, "text": "a perfectly ordinary document with several words"},
        {"doc_id": 2, "text": "another unrelated body of text talking about shuffles"},
    ]
    (landing / "b1.json").write_text(json.dumps(batch))

    # simulate the crashed attempt: its sig-store append committed, with
    # the (id, fingerprint)-keyed rows the pipeline writes
    from pyspark.sql import functions as SF

    from wellmeet_data_pipeline_spark.functions.text import document_fingerprint

    bdf = spark.createDataFrame([(r["doc_id"], r["text"]) for r in batch], schema)
    fp = bdf.select("doc_id", document_fingerprint(SF.col("text")).alias("fingerprint"))
    merge_append(
        minhash_band_buckets(bdf, num_hashes=16, bands=4).join(fp, "doc_id"),
        sigs, partition_col=None, batch_seq=0,
    )

    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench,
        near_dup=True, sig_store_path=sigs,
    )
    assert {r["doc_id"] for r in read_corpus(spark, store).collect()} == {1, 2}


def test_remove_repeated_spans_realistic_width(spark):
    """Production-ish span width (w=10) over long documents: a planted
    15-word plagiarized passage is cut from the later doc while the
    surrounding original prose survives word-for-word."""
    import random

    from wellmeet_data_pipeline_spark.operators.corpus import remove_repeated_spans

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    prose = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
    passage = " ".join(f"quote{i}" for i in range(15))  # 15-word repeated span
    d1 = prose(80) + " " + passage + " " + prose(40)
    d2_head, d2_tail = prose(60), prose(30)
    d2 = d2_head + " " + passage + " " + d2_tail
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")

    got = {r["doc_id"]: r for r in remove_repeated_spans(df, span_w=10).collect()}
    assert got[1]["n_tokens_removed"] == 0          # first occurrence untouched
    assert got[1]["text"] == d1
    assert got[2]["n_tokens_removed"] == 15         # exactly the passage cut
    assert got[2]["text"] == d2_head + " " + d2_tail
    assert "quote0" not in got[2]["text"]


def test_streaming_near_dup_catches_edited_recrawl(spark, tmp_path):
    """Same doc_id re-crawled with slightly edited text (new fingerprint):
    the refined (id, fingerprint) replay exclusion must still probe it
    against its own stored signatures and drop it as a near-dup."""
    import json

    from pyspark.sql.types import StructType

    from wellmeet_data_pipeline_spark.streaming.corpus import (
        read_corpus,
        run_corpus_pipeline,
    )

    landing = tmp_path / "rc_landing"
    landing.mkdir()
    store, ckpt, sigs = (
        str(tmp_path / "rc_store"),
        str(tmp_path / "rc_ckpt"),
        str(tmp_path / "rc_sigs"),
    )
    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame([(900, "unrelated benchmark")], "doc_id long, text string")

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    (landing / "b1.json").write_text(json.dumps([{"doc_id": 1, "text": base}]))
    run_corpus_pipeline(spark, str(landing), store, ckpt, schema, bench,
                        near_dup=True, sig_store_path=sigs)
    assert {r["doc_id"] for r in read_corpus(spark, store).collect()} == {1}

    # re-crawl of id 1 with one extra word: new fingerprint, near-dup text
    (landing / "b2.json").write_text(
        json.dumps([{"doc_id": 1, "text": base + " today"}])
    )
    run_corpus_pipeline(spark, str(landing), store, ckpt, schema, bench,
                        near_dup=True, sig_store_path=sigs)
    cur = read_corpus(spark, store).collect()
    assert {r["doc_id"] for r in cur} == {1}
    assert [r["text"] for r in cur] == [base]  # the ORIGINAL stays canonical


def test_streaming_corpus_pipeline_model_quality_gate(spark, tmp_path):
    """The fastText-shaped classifier gates docs inside the streaming
    pipeline: only keep==True documents reach the store.  Gate words are
    chosen by probing the deterministic weight function, not hard-coded."""
    import hashlib
    import json

    from wellmeet_data_pipeline_spark.operators.scoring import model_weights_table
    from wellmeet_data_pipeline_spark.streaming.corpus import (
        read_corpus,
        run_corpus_pipeline,
    )

    def w(term: str) -> int:
        b = int(hashlib.sha256(term.encode()).hexdigest()[:4], 16)
        return (b * 2654435761) % 65536 - 32768

    # deterministically find clearly-positive and clearly-negative words
    vocab = [f"word{i}" for i in range(200)]
    pos = [t for t in vocab if w(t) > 8000][:6]
    neg = [t for t in vocab if w(t) < -8000][:6]
    assert len(pos) == 6 and len(neg) == 6

    landing = tmp_path / "gated_landing"
    landing.mkdir()
    store = str(tmp_path / "gated_store")
    ckpt = str(tmp_path / "gated_ckpt")
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("doc_id long, text string")
    bench = spark.createDataFrame([(900, "zz yy xx")], "doc_id long, text string")

    (landing / "b1.json").write_text(
        json.dumps(
            [
                {"doc_id": 1, "text": " ".join(pos)},
                {"doc_id": 2, "text": " ".join(neg)},
            ]
        )
    )
    run_corpus_pipeline(
        spark, str(landing), store, ckpt, schema, bench,
        quality_weights=model_weights_table(spark),
    )
    got = {r["doc_id"] for r in read_corpus(spark, store).collect()}
    assert got == {1}


def test_bloom_probe_never_false_negative_and_verify_matches_exact(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import (
        bloom_filter_frame,
        bloom_probe,
        decontaminate,
        decontaminate_bloom,
    )
    from pyspark.sql import functions as F

    items = spark.range(200).selectExpr("concat('member', id) AS s")
    bloom = bloom_filter_frame(items, "s", m_bits=1 << 12, k_hashes=5)
    probes = spark.range(400).selectExpr("concat('member', id) AS s")
    might = {r["s"] for r in bloom_probe(probes, bloom, "s", 1 << 12, 5).collect()}
    members = {f"member{i}" for i in range(200)}
    assert members <= might  # no false negatives, ever
    # at 20 bits/member the false-positive tail should be small
    assert len(might - members) < 60

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "totally unrelated text about something else entirely here"),
            (3, "quick brown fox appears in this document too somehow"),
            (37 * 9, "another clean document with no benchmark overlap at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox went home")], "doc_id long, text string"
    )
    exact = {r["doc_id"] for r in decontaminate(docs, bench).collect()}
    bloomed = {r["doc_id"] for r in decontaminate_bloom(docs, bench, verify=True).collect()}
    assert bloomed == exact
    # unverified mode may only drop MORE (bloom fps), never keep extra
    loose = {r["doc_id"] for r in decontaminate_bloom(docs, bench, verify=False).collect()}
    assert loose <= exact


def test_epoch_budget_allocation_water_fills_under_caps(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import epoch_budget_allocation

    # tiny: 2 tokens, small: 10, big: 100 each; budget = 2x total = 424
    docs = spark.createDataFrame(
        [
            (1, "a b", "tiny"),
            (2, " ".join(f"w{i}" for i in range(10)), "small"),
            (3, " ".join(f"x{i}" for i in range(100)), "big1"),
            (4, " ".join(f"y{i}" for i in range(100)), "big2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in epoch_budget_allocation(docs).collect()}
    total = sum(r["n_tokens"] for r in out.values())
    budget = total * 2
    # caps respected everywhere; no allocation negative
    for r in out.values():
        assert 0 <= r["alloc_tokens"] <= r["cap_tokens"] == r["n_tokens"] * 4
    # tiny and small sources are cap-bound (4 epochs), the big ones split
    # the remainder equally
    assert out["tiny"]["alloc_tokens"] == 8 and out["tiny"]["epochs"] == 4.0
    assert out["small"]["alloc_tokens"] == 40
    assert out["big1"]["alloc_tokens"] == out["big2"]["alloc_tokens"] == (budget - 48) // 2
    assert sum(r["alloc_tokens"] for r in out.values()) <= budget
    # abundant-budget degenerate case: everything cap-bound
    rich = epoch_budget_allocation(docs, budget_num=100, budget_den=1).collect()
    assert all(r["alloc_tokens"] == r["cap_tokens"] for r in rich)


def test_ngram_novelty_hand_computed(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import ngram_novelty

    # doc 1 owns "a b c" and "b c d"; doc 2 repeats "a b c" and adds
    # "b c e"; doc 3 is all repeats of doc 1; doc 4 is too short for a
    # 3-gram and must be absent from the output.
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c e"),
            (3, "a b c d"),
            (4, "a b"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ngram_novelty(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_shingles"], got[1]["n_novel"], got[1]["novelty"]) == (2, 2, 1.0)
    assert (got[2]["n_shingles"], got[2]["n_novel"], got[2]["novelty"]) == (2, 1, 0.5)
    assert (got[3]["n_shingles"], got[3]["n_novel"], got[3]["novelty"]) == (2, 0, 0.0)


def test_char_entropy_hand_computed(spark):
    import math
    from collections import Counter

    from wellmeet_data_pipeline_spark.operators.corpus import char_entropy

    rows = [(1, "aaaa"), (2, "abab"), (3, "The quick brown fox!"), (4, "  ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert 4 not in got  # empty after normalization
    assert got[1]["entropy_nats"] == 0.0  # single-char spam
    # independent recompute on the micro-nat grid
    for i, t in rows[:3]:
        s = "".join(ch for ch in t.lower() if ch.isalnum() or ch == "_")
        n = len(s)
        exp = sum(
            math.floor(-(k / n) * math.log(k / n) * 1e6 + 0.5)
            for k in Counter(s).values()
        ) / 1e6
        assert got[i]["entropy_nats"] == exp
        assert got[i]["n_chars_nospace"] == n
    # "abab": two chars at p=1/2 -> two grid terms of floor(.5*ln2*1e6+.5)
    assert got[2]["entropy_nats"] == 2 * math.floor(0.5 * math.log(2) * 1e6 + 0.5) / 1e6


def test_negative_samples_never_hit_interactions_and_are_deterministic(spark):
    from wellmeet_data_pipeline_spark.operators.corpus import negative_sample_candidates
    from pyspark.sql import functions as F

    inter = spark.createDataFrame(
        [(1, 0), (1, 1), (1, 2), (2, 3)], "u long, it long"
    )
    users = spark.createDataFrame([(1,), (2,), (3,)], "u long")
    n_items = spark.createDataFrame([(4,)], "n_items long")
    out = negative_sample_candidates(
        inter, users, n_items, user_col="u", item_col="it", m=8, k=2
    )
    rows = [(r["u"], r["seq"], r["it"]) for r in out.collect()]
    # no sampled pair collides with an interaction
    banned = {(1, 0), (1, 1), (1, 2), (2, 3)}
    assert not banned & {(u, it) for u, _, it in rows}
    # all items in range, at most k per user, user 3 (no interactions) gets k
    assert all(0 <= it < 4 for _, _, it in rows)
    from collections import Counter
    per_user = Counter(u for u, _, _ in rows)
    assert per_user[3] == 2 and max(per_user.values()) <= 2
    # deterministic across re-evaluation
    rows2 = [(r["u"], r["seq"], r["it"]) for r in out.collect()]
    assert sorted(rows) == sorted(rows2)
