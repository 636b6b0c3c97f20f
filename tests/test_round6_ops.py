"""Round-6 operator tests: per-source domain quotas, snapshot diff,
Bloom-gated incremental dedup, and BPE tokenizer training/encoding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkstreaming_gmall_demo_spark.operators import dedup as dedup_ops
from sparkstreaming_gmall_demo_spark.operators import diff as diff_ops
from sparkstreaming_gmall_demo_spark.operators import sampling as samp
from sparkstreaming_gmall_demo_spark.operators import sketch as sketch_ops
from sparkstreaming_gmall_demo_spark.operators import vocab as vocab_ops


# ---------------------------------------------------------------------------
# quota sampling
# ---------------------------------------------------------------------------
def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


def test_quota_sample_caps_every_group(spark):
    q = samp.quota_sample(_docs(spark), "source", "doc_id", 5)
    sizes = q.groupBy("source").count().collect()
    assert sizes and all(r["count"] <= 5 for r in sizes)


def test_quota_sample_keeps_small_groups_whole(spark):
    df = spark.createDataFrame(
        [(i, "big") for i in range(40)] + [(100, "tiny"), (101, "tiny")],
        ["doc_id", "source"],
    )
    q = samp.quota_sample(df, "source", "doc_id", 10)
    by = {r.source: r["count"] for r in q.groupBy("source").count().collect()}
    assert by == {"big": 10, "tiny": 2}


def test_quota_sample_stable_under_repartition(spark):
    df = _docs(spark)
    a = {r.doc_id for r in samp.quota_sample(df, "source", "doc_id", 7).collect()}
    b = {
        r.doc_id
        for r in samp.quota_sample(df.repartition(17), "source", "doc_id", 7).collect()
    }
    assert a == b


def test_quota_sample_group_local(spark):
    """A row's survival depends only on its own group — growing OTHER
    sources never changes a group's kept set."""
    df = _docs(spark)
    small = df.filter(F.col("source") != "")
    extra = df.withColumn("source", F.concat(F.lit("other_"), F.col("source"))).withColumn(
        "doc_id", F.col("doc_id") + 500000
    )
    grown = small.unionByName(extra)
    base = {
        r.doc_id
        for r in samp.quota_sample(small, "source", "doc_id", 7).collect()
    }
    after = {
        r.doc_id
        for r in samp.quota_sample(grown, "source", "doc_id", 7)
        .filter(~F.col("source").startswith("other_"))
        .collect()
    }
    assert base == after


@pytest.mark.parametrize("expected,margin", [(100, 4.0), (25, 1.2), (1000, 8.0)])
def test_quota_prefiltered_identical(spark, expected, margin):
    df = _docs(spark)
    plain = {r.doc_id for r in samp.quota_sample(df, "source", "doc_id", 8).collect()}
    fast = {
        r.doc_id
        for r in samp.quota_sample_prefiltered(
            df, "source", "doc_id", 8, expected_group_size=expected, margin=margin
        ).collect()
    }
    assert plain == fast


def test_quota_prefiltered_recovers_undershot_groups(spark):
    # margin so tight the prefilter strands groups below quota: the
    # recompute path must restore exactness anyway.
    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(90)], ["doc_id", "source"]
    )
    plain = {r.doc_id for r in samp.quota_sample(df, "source", "doc_id", 20).collect()}
    fast = {
        r.doc_id
        for r in samp.quota_sample_prefiltered(
            df, "source", "doc_id", 20, expected_group_size=10000, margin=1.0
        ).collect()
    }
    assert plain == fast


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------
def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en"), (3, "c", "de")], ["id", "text", "lang"]
    )
    new = spark.createDataFrame(
        [(1, "a", "en"), (2, "B", "en"), (4, "d", "fr")], ["id", "text", "lang"]
    )
    got = {
        r.id: r.change
        for r in diff_ops.snapshot_diff(old, new, "id", ["text", "lang"]).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_include_unchanged_and_null_safety(spark):
    old = spark.createDataFrame([(1, "a", None), (2, None, "x")], ["id", "t", "u"])
    new = spark.createDataFrame([(1, "a", None), (2, "", "x")], ["id", "t", "u"])
    full = diff_ops.snapshot_diff(old, new, "id", ["t", "u"], include_unchanged=True)
    got = {r.id: r.change for r in full.collect()}
    # NULL and '' encode identically in the fingerprint (documented
    # coalesce) -> id 2 reads as unchanged; id 1 identical.
    assert got == {1: "unchanged", 2: "unchanged"}


def test_snapshot_diff_column_order_significant(spark):
    old = spark.createDataFrame([(1, "ab", "c")], ["id", "x", "y"])
    new = spark.createDataFrame([(1, "a", "bc")], ["id", "x", "y"])
    got = diff_ops.snapshot_diff(old, new, "id", ["x", "y"]).collect()
    assert len(got) == 1 and got[0].change == "changed"


def test_diff_summary_counts(spark):
    old = spark.createDataFrame([(i, str(i)) for i in range(10)], ["id", "t"])
    new = spark.createDataFrame(
        [(i, str(i) if i % 2 else "X") for i in range(8)], ["id", "t"]
    )
    s = {r.change: r.n for r in diff_ops.diff_summary(
        diff_ops.snapshot_diff(old, new, "id", ["t"])
    ).collect()}
    assert s == {"changed": 4, "removed": 2}


# ---------------------------------------------------------------------------
# Bloom filter + gated incremental dedup
# ---------------------------------------------------------------------------
def test_bloom_no_false_negatives(spark):
    idx = dedup_ops.fingerprint_index(_docs(spark))
    bloom = sketch_ops.bloom_build(idx)
    probed = sketch_ops.bloom_might_contain(idx, bloom)
    assert probed.filter(~F.col("might_contain")).count() == 0


def test_bloom_fp_rate_within_bound(spark):
    import math

    idx = dedup_ops.fingerprint_index(_docs(spark))
    n = idx.count()
    bloom = sketch_ops.bloom_build(idx)
    absent = spark.range(20000).select(
        F.md5(F.concat(F.lit("absent"), F.col("id").cast("string"))).alias(
            "fingerprint"
        )
    )
    fp = (
        sketch_ops.bloom_might_contain(absent, bloom)
        .filter(F.col("might_contain"))
        .count()
    )
    expected = (1 - math.exp(-sketch_ops.BLOOM_K * n / sketch_ops.BLOOM_NBITS)) ** (
        sketch_ops.BLOOM_K
    )
    # generous slack over the analytic rate; mostly guards against a
    # build/probe hash mismatch (which would send fp toward 0% with
    # false negatives, or toward 100%)
    assert fp / 20000.0 <= max(5 * expected, 0.01)


def test_bloom_gate_equals_exact_anti_join(spark):
    docs = _docs(spark)
    idx = dedup_ops.fingerprint_index(docs.filter(F.col("doc_id") % 3 == 0))
    exact = {r.doc_id for r in dedup_ops.novel_against_index(docs, idx).collect()}
    fast = {
        r.doc_id for r in dedup_ops.novel_against_index_bloom(docs, idx).collect()
    }
    assert exact == fast and exact


def test_bloom_tiny_filter_still_exact(spark):
    """Saturate a deliberately undersized filter: everything reads
    might-contain, the anti-join does all the work, output unchanged."""
    docs = _docs(spark)
    idx = dedup_ops.fingerprint_index(docs.filter(F.col("doc_id") % 3 == 0))
    exact = {r.doc_id for r in dedup_ops.novel_against_index(docs, idx).collect()}
    fast = {
        r.doc_id
        for r in dedup_ops.novel_against_index_bloom(
            docs, idx, nbits=64, k=2
        ).collect()
    }
    assert exact == fast


# ---------------------------------------------------------------------------
# BPE training + encoding
# ---------------------------------------------------------------------------
def _py_bpe(word_freq: dict, n_merges: int, min_freq: int = 2) -> list:
    """Sequential reference implementation (Sennrich et al. 2016
    algorithm 1, deterministic tie-break freq DESC then pair ASC)."""
    words = {tuple(list(w) + [vocab_ops.END_OF_WORD]): f for w, f in word_freq.items()}
    merges = []
    for step in range(n_merges):
        pc: dict = {}
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + f
        if not pc:
            break
        (a, b), f = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        if f < min_freq:
            break
        merges.append((step, a, b, a + b, f))
        out_words: dict = {}
        for syms, fr in words.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            out_words[tuple(out)] = out_words.get(tuple(out), 0) + fr
        words = out_words
    return merges


def _word_freqs_py(texts: list) -> dict:
    wf: dict = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                wf[w] = wf.get(w, 0) + 1
    return wf


def test_bpe_train_matches_python_model_on_fixture(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = vocab_ops.bpe_train(docs, 12)
    wf = _word_freqs_py([r.text for r in docs.select("text").collect()])
    want = _py_bpe(wf, 12)
    assert [(m["step"], m["left"], m["right"], m["merged"], m["freq"]) for m in got] == want


def test_bpe_distributed_path_identical(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast = vocab_ops.bpe_train(docs, 10)
    dist = vocab_ops.bpe_train_distributed(docs, 10)
    assert fast == dist
    # forcing the fallback through the public entry point agrees too
    forced = vocab_ops.bpe_train(docs, 10, max_word_types=1)
    assert forced == fast


def test_bpe_greedy_left_to_right(spark):
    # 'aaa' under merge (a,a) must become [aa, a], not [a, aa]
    df = spark.createDataFrame([("aaa aaa",)], ["text"])
    merges = vocab_ops.bpe_train(df, 1)
    assert merges[0]["left"] == "a" and merges[0]["right"] == "a"
    enc = vocab_ops.bpe_encode(
        df.withColumn("doc_id", F.lit(1)), merges
    ).collect()[0]
    # per word: [aa, a, </w>] = 3 symbols, two words -> 6
    assert enc.n_tokens == 6


def test_bpe_train_early_stop_below_min_freq(spark):
    df = spark.createDataFrame([("ab cd",)], ["text"])
    # every adjacent pair occurs once < min_freq=2 -> no merges
    assert vocab_ops.bpe_train(df, 5) == []


def test_bpe_encode_matches_sequential_model(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = vocab_ops.bpe_train(docs, 8)
    got = {
        r.doc_id: r.n_tokens
        for r in vocab_ops.bpe_encode(docs, merges).collect()
    }
    rules = [(m["left"], m["right"]) for m in merges]

    def encode_word(word):
        syms = list(word) + [vocab_ops.END_OF_WORD]
        for a, b in rules:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return len(syms)

    for r in docs.select("doc_id", "text").collect():
        want = sum(encode_word(w) for w in r.text.split(" ") if w)
        assert got[r.doc_id] == want


def test_bpe_encode_monotone_in_merges(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m12 = vocab_ops.bpe_train(docs, 12)
    t4 = vocab_ops.bpe_encode(docs, m12[:4]).agg(F.sum("n_tokens")).first()[0]
    t12 = vocab_ops.bpe_encode(docs, m12).agg(F.sum("n_tokens")).first()[0]
    assert t12 <= t4


def test_bpe_oracle_cte_matches_python_model_on_adversarial_runs():
    """The driver-facing DuckDB oracle (unrolled chained CTEs with a
    recursive-CTE greedy fold) against the sequential Python model on
    the input family a string-replace() oracle gets WRONG: runs of
    identical symbols. [a]*5 under merge (a,a) must fold to
    [aa,aa,a], not replace()'s [aa,a,aa] — the subsequent pair counts
    (and therefore the whole merge table) diverge if the oracle's
    rewrite isn't the left-to-right fold."""
    import duckdb

    from sparkstreaming_gmall_demo_spark.plans.extensions import (
        _bpe_train_oracle,
    )

    corpora = [
        ["aaaaa aaaa aaa aa", "aaaaa aaaaa", "baaab abbba"],
        ["abababab abab ab", "aab aab aab", "bbbb aaaa"],
        ["xxxxxxx xx x", "xyxyxy yxyxyx", "xxy xyy xxyy"],
    ]
    for texts in corpora:
        for n_merges in (1, 3, 6):
            want = [
                {"step": s, "left": a, "right": b, "merged": m, "freq": f}
                for (s, a, b, m, f) in _py_bpe(_word_freqs_py(texts), n_merges)
            ]
            con = duckdb.connect()
            con.execute(
                "CREATE TABLE documents AS SELECT unnest(?) AS text",
                [texts],
            )
            rows = con.execute(_bpe_train_oracle(n_merges)).fetchall()
            con.close()
            got = [
                {"step": s, "left": a, "right": b, "merged": m, "freq": f}
                for (s, a, b, m, f) in rows
            ]
            assert got == want, (texts, n_merges)


# ---------------------------------------------------------------------------
# HLL partials
# ---------------------------------------------------------------------------
def test_hll_union_of_partials_equals_whole_sketch(spark):
    """Mergeability: estimating the union of per-day partials must
    equal sketching the whole key set directly (same register maxima
    either way — the property that makes persisted partials sound)."""
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    p = sketch_ops.hll_daily_partials(ev)
    merged = p.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("e")
    ).first()["e"]
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("e")
    ).first()["e"]
    assert merged == direct


def test_hll_prefix_estimates_monotone_days(spark):
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    rows = sketch_ops.hll_prefix_estimates(
        sketch_ops.hll_daily_partials(ev)
    ).orderBy("d").collect()
    assert len(rows) == 30
    # cumulative estimate covers at least the day's own estimate
    assert all(r.est_cum >= r.est_daily * 0.95 for r in rows)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------
def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_pq_codebook_shapes_and_code_range(spark):
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    emb = _emb(spark)
    books = sim.pq_train(emb, m=4, ksub=8, iters=1)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(c) == 16 for b in books for c in b)  # 64 / 4 dims
    codes = sim.pq_encode(emb, books).collect()
    assert all(len(r.codes) == 4 for r in codes)
    assert all(0 <= c < 8 for r in codes for c in r.codes)


def test_pq_self_query_is_top_hit_with_zero_distance(spark):
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    emb = _emb(spark)
    q = sim.query_vector(emb, 0)
    books = sim.pq_train(emb, m=8, ksub=16, iters=1)
    codes = sim.pq_encode(emb, books)
    top = sim.pq_topk(emb, codes, books, q, k=5, rerank=50).collect()
    assert top[0].vec_id == 0 and top[0].l2sq == 0.0


def test_pq_adc_is_deterministic(spark):
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    emb = _emb(spark)
    q = sim.query_vector(emb, 0)
    qv = [float(x) for x in q.collect()[0][0]]
    books = sim.pq_train(emb, m=4, ksub=8, iters=1)
    codes = sim.pq_encode(emb, books)
    a = sorted((r.vec_id, r.adc) for r in sim.pq_adc_scores(codes, books, qv).collect())
    b = sorted((r.vec_id, r.adc) for r in sim.pq_adc_scores(codes, books, qv).collect())
    assert a == b


def test_pq_persisted_index_search_equals_fresh_encode(spark, tmp_path):
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    emb = _emb(spark)
    q = sim.query_vector(emb, 0)
    books = sim.pq_train(emb, m=8, ksub=16, iters=1)
    path = str(tmp_path / "pq_codes")
    sim.pq_write_index(emb, books, path)
    stored = sim.pq_read_index(spark, path)
    fresh = sim.pq_encode(emb, books)
    got = [(r.vec_id, r.l2sq) for r in
           sim.pq_topk(emb, stored, books, q, k=5, rerank=50).collect()]
    want = [(r.vec_id, r.l2sq) for r in
            sim.pq_topk(emb, fresh, books, q, k=5, rerank=50).collect()]
    assert got == want


def test_pq_dim_not_divisible_raises(spark):
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    with pytest.raises(ValueError):
        sim.pq_train(_emb(spark), m=5, ksub=8, iters=1)


# ---------------------------------------------------------------------------
# streaming HLL partials
# ---------------------------------------------------------------------------
def test_hll_pipeline_streaming_equals_batch_and_replays_noop(spark, tmp_path):
    """Chunked streaming ingestion must yield byte-identical merged
    day-sketches to the one-shot batch partials (HLL registers are
    max-merged — chunking invisible), and a fresh-checkpoint replay
    must be a no-op on the txn table."""
    import pyarrow.parquet as pq

    from sparkstreaming_gmall_demo_spark.streaming import pipelines, txn

    sf_dir = "/root/testdata/sf0.01"
    table = pq.read_table(f"{sf_dir}/events.parquet")
    topic = tmp_path / "events_topic"
    topic.mkdir()
    step = (table.num_rows + 3) // 4
    for i in range(4):
        pq.write_table(table.slice(i * step, step), str(topic / f"c{i}.parquet"))

    sketch_table = str(tmp_path / "hll_partials")
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(topic))
        )
        q = pipelines.hll_pipeline(
            stream, sketch_table, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = sketch_ops.hll_prefix_estimates(sketch_ops.hll_daily_partials(ev))
    streamed = sketch_ops.hll_prefix_estimates(
        pipelines.hll_read_daily(spark, sketch_table)
    )
    want = sorted((r.d, r.est_daily, r.est_cum) for r in batch.collect())
    got = sorted((r.d, r.est_daily, r.est_cum) for r in streamed.collect())
    assert got == want

    v = txn.current_version(sketch_table)
    run(str(tmp_path / "ck2"))  # full replay from a fresh checkpoint
    got2 = sorted(
        (r.d, r.est_daily, r.est_cum)
        for r in sketch_ops.hll_prefix_estimates(
            pipelines.hll_read_daily(spark, sketch_table)
        ).collect()
    )
    assert got2 == want
    assert txn.current_version(sketch_table) == v


# ---------------------------------------------------------------------------
# temperature mixing
# ---------------------------------------------------------------------------
def test_temperature_quotas_alpha_one_is_proportional(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 80 else "b") for i in range(100)], ["k", "g"]
    )
    q = {r.g: r.quota for r in samp.temperature_quotas(df, "g", 1.0, 50).collect()}
    assert q == {"a": 40, "b": 10}  # natural proportions


def test_temperature_alpha_flattens_toward_uniform(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)], ["k", "g"]
    )
    # budget small enough that the group-size cap never binds
    q1 = {r.g: r.quota for r in samp.temperature_quotas(df, "g", 1.0, 16).collect()}
    q0 = {r.g: r.quota for r in samp.temperature_quotas(df, "g", 0.0, 16).collect()}
    # alpha=0: equal weights; alpha=1: 9:1
    assert q0["big"] == q0["small"] == 8
    assert q1["big"] / max(q1["small"], 1) >= 8
    # intermediate alpha lies between
    qh = {r.g: r.quota for r in samp.temperature_quotas(df, "g", 0.5, 16).collect()}
    assert q0["big"] <= qh["big"] <= q1["big"]


def test_temperature_quota_never_exceeds_group_size(spark):
    df = spark.createDataFrame(
        [(i, "tiny" if i < 3 else "huge") for i in range(100)], ["k", "g"]
    )
    q = {r.g: (r.n, r.quota) for r in
         samp.temperature_quotas(df, "g", 0.0, 1000).collect()}
    assert q["tiny"][1] <= q["tiny"][0] == 3


def test_temperature_sample_respects_quotas_and_is_stable(spark):
    docs = _docs(spark)
    out = samp.temperature_sample(docs, "source", "doc_id", 0.5, 300)
    quotas = {r.source: r.quota for r in
              samp.temperature_quotas(docs, "source", 0.5, 300).collect()}
    sizes = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    assert all(sizes[s] == min(quotas[s], sizes.get(s, 0)) or sizes[s] <= quotas[s]
               for s in sizes)
    # repartition invariance (the shared md5 priority space)
    again = samp.temperature_sample(
        docs.repartition(13), "source", "doc_id", 0.5, 300
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


# ---------------------------------------------------------------------------
# length bucketing
# ---------------------------------------------------------------------------
def test_length_bucket_hand_case(spark):
    from sparkstreaming_gmall_demo_spark.operators import chunking as chunk_ops

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e"), (3, " ".join("x" * 1 for _ in range(9)))],
        ["doc_id", "text"],
    )
    got = {r.cap: (r.n_docs, r.padded_tokens, r.truncated_tokens)
           for r in chunk_ops.length_bucket_stats(df, [4, 8]).collect()}
    # len 3 -> cap 4 (pad 1); len 5 -> cap 8 (pad 3); len 9 -> cap 8 (trunc 1)
    assert got[4] == (1, 1, 0)
    assert got[8] == (2, 3, 1)


def test_length_bucket_pad_bp_bounds(spark):
    from sparkstreaming_gmall_demo_spark.operators import chunking as chunk_ops

    rows = chunk_ops.length_bucket_stats(_docs(spark), [16, 32, 64]).collect()
    assert rows and all(0 <= r.pad_bp < 10000 for r in rows)
    assert all(isinstance(r.pad_bp, int) for r in rows)
    assert sum(r.n_docs for r in rows) == _docs(spark).count()


# ---------------------------------------------------------------------------
# bigram surprisal
# ---------------------------------------------------------------------------
def test_bigram_surprisal_matches_sequential_model(spark):
    import math

    texts = ["a b a b c", "b a b a", "c c c"]
    vocab = ["a", "b"]  # 'c' maps to <unk>
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    # sequential model
    def sym(t):
        return t if t in vocab else "<unk>"
    bgs = []
    for t in texts:
        s = [sym(x) for x in t.split(" ")]
        bgs.extend(zip(s, s[1:]))
    from collections import Counter
    c12 = Counter(bgs)
    c1 = Counter(w1 for w1, _ in bgs)
    V = len(vocab) + 1
    want = {}
    for i, t in enumerate(texts):
        s = [sym(x) for x in t.split(" ")]
        ss = [-math.log((c12[(a, b)] + 1.0) / (c1[a] + V))
              for a, b in zip(s, s[1:])]
        want[i] = (len(ss), round(sum(ss) / len(ss), 10))
    got = {r.doc_id: (r.n_bigrams, round(r.surprisal, 10))
           for r in vocab_ops.bigram_surprisal(df, vocab).collect()}
    assert got == want


def test_bigram_surprisal_order_sensitivity(spark):
    """Same unigram profile, different order: the natural-order corpus
    text must score lower than a doc with the same tokens reversed
    relative to the corpus's dominant direction."""
    # both contexts frequent (a->b and b->b dominate), so add-one
    # smoothing can't hand a rare context free probability mass; the
    # two probes share one token multiset {a,b,b} and differ only in
    # order
    rows = [(i, "a b") for i in range(30)] + [(50 + i, "b b") for i in range(30)]
    probe_natural = (100, "a b b")
    probe_reversed = (101, "b b a")
    df = spark.createDataFrame(
        rows + [probe_natural, probe_reversed], ["doc_id", "text"]
    )
    got = {r.doc_id: r.surprisal
           for r in vocab_ops.bigram_surprisal(df, ["a", "b"]).collect()}
    assert got[100] < got[101]


def test_bigram_surprisal_single_token_doc_absent(spark):
    df = spark.createDataFrame([(1, "only"), (2, "two tokens")], ["doc_id", "text"])
    rows = {r.doc_id for r in vocab_ops.bigram_surprisal(df, ["two"]).collect()}
    assert rows == {2}  # no bigrams -> no row


# ---------------------------------------------------------------------------
# leakage-safe splits
# ---------------------------------------------------------------------------
def test_dedup_aware_split_components_share_fate(spark):
    from sparkstreaming_gmall_demo_spark.operators import components as comp_ops

    # 3 near-dup pairs + 4 singletons; labels from a hand pair graph
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["i", "j"])
    labels = comp_ops.connected_components(pairs)
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21]], ["doc_id"])
    out = samp.dedup_aware_split(
        docs, labels, {"train": 0.5, "test": 0.5}
    ).collect()
    by_doc = {r.doc_id: (r.group_key, r.split) for r in out}
    # chain {1,2,3} one split, pair {10,11} one split
    assert len({by_doc[i][1] for i in (1, 2, 3)}) == 1
    assert by_doc[10][1] == by_doc[11][1]
    assert by_doc[1][0] == 1 and by_doc[10][0] == 10  # min-label canonical


def test_dedup_aware_split_singletons_match_plain_split(spark):
    from sparkstreaming_gmall_demo_spark.operators import components as comp_ops

    pairs = spark.createDataFrame([], "i long, j long")
    labels = comp_ops.connected_components(pairs)
    docs = spark.createDataFrame([(i,) for i in range(50)], ["doc_id"])
    out = {r.doc_id: r.split for r in samp.dedup_aware_split(
        docs, labels, {"train": 0.8, "val": 0.2}
    ).collect()}
    plain = {r.doc_id: r.split for r in docs.withColumn(
        "split", samp.assign_split("doc_id", {"train": 0.8, "val": 0.2})
    ).collect()}
    assert out == plain  # no pairs -> identical to the per-doc split


def test_curation_bundle_matches_unfused_composition(spark):
    """The fused bundle reports, per split, what keep_best and
    dedup_aware_split report when composed separately over the same
    component labels."""
    from sparkstreaming_gmall_demo_spark.operators import components as comp_ops

    splits = {"train": 0.5, "val": 0.25, "test": 0.25}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31), (31, 32), (32, 33)], "i long, j long"
    )
    docs = spark.createDataFrame(
        [(i, (i * 37) % 11) for i in [1, 2, 3, 10, 11, 20, 21, 22, 30, 31, 32, 33, 40]],
        "doc_id long, n_chars long",
    )
    got = [tuple(r) for r in samp.curation_bundle(docs, pairs, splits).collect()]

    labels = comp_ops.connected_components(pairs)
    kept = {r.doc_id for r in comp_ops.keep_best(docs, labels, "n_chars").collect()}
    assigned = samp.dedup_aware_split(docs, labels, splits).collect()
    want = []
    for split in sorted({r.split for r in assigned}):
        rows = [r for r in assigned if r.split == split]
        want.append((split, len(rows), len({r.group_key for r in rows}),
                     sum(r.doc_id in kept for r in rows)))
    assert got == want


def test_hll_prefix_estimates_duplicate_day_rows(spark):
    """A raw per-batch partials snapshot can hold several rows for one
    day; the range-framed running union must give every same-day row
    the SAME est_cum (all siblings included), equal to the folded
    frame's value."""
    ev = spark.range(300).select(
        F.to_date(F.concat(F.lit("2024-01-0"), ((F.col("id") % 3) + 1).cast("string"))).alias("d"),
        F.col("id").alias("k"),
    )
    # two partial rows per day (split by parity), vs one folded row
    split_partials = (
        ev.withColumn("half", F.col("k") % 2)
        .groupBy("d", "half")
        .agg(F.hll_sketch_agg("k").alias("sketch"))
        .drop("half")
    )
    folded = ev.groupBy("d").agg(F.hll_sketch_agg("k").alias("sketch"))
    got = {
        (r.d, r.est_cum)
        for r in sketch_ops.hll_prefix_estimates(split_partials).collect()
    }
    want = {
        (r.d, r.est_cum)
        for r in sketch_ops.hll_prefix_estimates(folded).collect()
    }
    # every split row's est_cum matches the folded day's value
    assert {d: c for d, c in got} == {d: c for d, c in want}


# ---------------------------------------------------------------------------
# duplicate-span scrub (exact substring dedup, keep-first)
# ---------------------------------------------------------------------------
def test_dup_span_scrub_keeps_first_occurrence_only(spark):
    """A verbatim 8-token passage pasted into three docs survives in
    the lowest (doc_id, pos) occurrence only; unique text is kept."""
    from sparkstreaming_gmall_demo_spark.operators import text as text_ops

    passage = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = [
        (1, "alpha beta " + passage + " gamma"),
        (2, passage),                      # exact duplicate -> fully scrubbed
        (3, "delta " + passage + " tail1 tail2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in text_ops.dup_span_scrub(df, n=8).collect()}
    assert out[1].kept_text == "alpha beta " + passage + " gamma"
    assert out[1].removed_tokens == 0
    assert out[2].kept_text == "" and out[2].removed_tokens == 8
    assert out[3].kept_text == "delta tail1 tail2"
    assert out[3].removed_tokens == 8


def test_dup_span_scrub_coverage_union_of_overlapping_grams(spark):
    """Two duplicated runs overlapping in one doc scrub the UNION of
    their covered positions (order-independent coverage semantics),
    and a doc shorter than n is never touched."""
    from sparkstreaming_gmall_demo_spark.operators import text as text_ops

    run = " ".join(f"w{i}" for i in range(12))  # 12 tokens: grams overlap
    rows = [
        (1, run),
        (2, run + " unique trailing words"),
        (3, "short doc below n"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in text_ops.dup_span_scrub(df, n=8).collect()}
    assert out[1].removed_tokens == 0          # canonical copy untouched
    assert out[2].removed_tokens == 12         # union of 5 overlapping grams
    assert out[2].kept_text == "unique trailing words"
    assert out[3].removed_tokens == 0 and out[3].kept_text == "short doc below n"


def test_dup_span_scrub_hashed_grams_equals_exact(spark):
    """The hashed-gram shuffle diet (8-byte xxhash64 instead of the
    gram string) reproduces the exact kernel's full output on the
    fixture corpus."""
    from sparkstreaming_gmall_demo_spark.operators import text as text_ops

    df = _docs(spark)
    exact = text_ops.dup_span_scrub(df, n=8).orderBy("doc_id").collect()
    hashed = (
        text_ops.dup_span_scrub(df, n=8, hash_grams=True)
        .orderBy("doc_id")
        .collect()
    )
    assert exact == hashed


# ---------------------------------------------------------------------------
# scalar-quantized (int8) ANN
# ---------------------------------------------------------------------------
def test_sq8_codes_are_int8_range(spark):
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    lo, hi = sim.sq8_train(emb)
    assert len(lo) == len(hi) == 64
    stats = (
        sim.sq8_encode(emb, lo, hi)
        .select(F.explode("codes").alias("c"))
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
        .collect()[0]
    )
    assert stats.lo >= 0 and stats.hi <= 255
    # corpus min/max dims must hit the code range ends
    assert stats.lo == 0 and stats.hi == 255


def test_sq8_topk_recall_vs_exact(spark):
    """int8 quantization of a 64-dim corpus loses almost nothing at
    top-10: recall >= 0.9 against exact brute-force cosine."""
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    lo, hi = sim.sq8_train(emb)
    q = sim.query_vector(emb, 0)
    approx = {r.vec_id for r in sim.sq8_topk(emb, q, lo, hi, k=10).collect()}
    exact = {r.vec_id for r in sim.cosine_topk(emb, q, k=10).collect()}
    assert len(approx & exact) >= 9


def test_sq8_constant_dim_guard(spark):
    """A constant dimension (hi == lo) codes to 0 and dequantizes to
    lo instead of dividing by zero."""
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    rows = [(1, [1.0, 5.0]), (2, [3.0, 5.0]), (3, [2.0, 5.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    lo, hi = sim.sq8_train(emb)
    assert (lo[1], hi[1]) == (5.0, 5.0)
    codes = {r.vec_id: r.codes for r in sim.sq8_encode(emb, lo, hi).collect()}
    assert [codes[1][1], codes[2][1], codes[3][1]] == [0, 0, 0]
    assert codes[1][0] == 0 and codes[2][0] == 255
    dv = (
        sim.sq8_encode(emb, lo, hi)
        .select("vec_id", sim.sq8_dequantize("codes", lo, hi).alias("dv"))
        .collect()
    )
    assert all(abs(r.dv[1] - 5.0) < 1e-12 for r in dv)


def test_sq8_persisted_index_reproduces_in_memory_path(tmp_path, spark):
    """write -> read -> probe returns bit-identical (id, score) rows to
    the in-memory sq8_topk, and a frozen-params append batch is
    servable from the same index."""
    from sparkstreaming_gmall_demo_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    lo, hi = sim.sq8_train(emb)
    q = sim.query_vector(emb, 0)
    path = str(tmp_path / "sq8_index")
    sim.sq8_write_index(emb, lo, hi, path)
    codes, lo2, hi2 = sim.sq8_read_index(spark, path)
    assert lo2 == lo and hi2 == hi
    served = sim.sq8_index_topk(codes, q, lo2, hi2, k=10).collect()
    direct = sim.sq8_topk(emb, q, lo, hi, k=10).collect()
    assert [(r.vec_id, r.score) for r in served] == [
        (r.vec_id, r.score) for r in direct
    ]
    # frozen-params append: encode a shifted batch with the SAME params
    batch = emb.withColumn("vec_id", F.col("vec_id") + F.lit(10**9))
    sim.sq8_encode(batch, lo, hi).write.mode("append").parquet(f"{path}/codes")
    codes3, _, _ = sim.sq8_read_index(spark, path)
    assert codes3.count() == 2 * emb.count()
    top1 = sim.sq8_index_topk(codes3, q, lo, hi, k=2).collect()
    # the query vector and its shifted twin tie at score 1.0
    assert {r.vec_id for r in top1} == {0, 10**9}


def test_sq8_ingest_streaming_replay_is_exactly_once(spark, sf_dir, tmp_path):
    """Vectors streamed in 3 chunks encode once each under frozen
    params; a full replay from a fresh checkpoint adds nothing, and
    the streamed index serves bit-identical top-k to the batch-built
    one."""
    import pyarrow.parquet as pq

    from sparkstreaming_gmall_demo_spark.operators import similarity as sim
    from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table
    from sparkstreaming_gmall_demo_spark.streaming import pipelines

    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = sim.sq8_train(emb)

    table = pq.read_table(f"{sf_dir}/embeddings.parquet")
    topic = tmp_path / "vec_topic"
    topic.mkdir()
    step = (table.num_rows + 2) // 3
    for i in range(3):
        pq.write_table(table.slice(i * step, step), str(topic / f"c{i}.parquet"))

    index_path = str(tmp_path / "sq8_stream_index")
    schema = "vec_id long, embedding array<float>, label int"

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(topic))
        )
        q = pipelines.sq8_ingest_pipeline(
            stream, lo, hi, index_path, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    n = emb.count()
    codes = spark.read.parquet(f"{index_path}/codes")
    assert codes.count() == n
    assert codes.select("vec_id").distinct().count() == n

    run(str(tmp_path / "ck2"))  # full replay
    assert spark.read.parquet(f"{index_path}/codes").count() == n

    # streamed probe == in-memory probe (pure encode -> chunking is
    # invisible)
    q = sim.query_vector(emb, 0)
    served = sim.sq8_index_topk(
        spark.read.parquet(f"{index_path}/codes"), q, lo, hi, k=10
    ).collect()
    direct = sim.sq8_topk(emb, q, lo, hi, k=10).collect()
    assert [(r.vec_id, r.score) for r in served] == [
        (r.vec_id, r.score) for r in direct
    ]
