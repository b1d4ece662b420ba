"""Unit tests for composite operators: top-k determinism, top-k pivot shape
and its equivalence with window top-k + pivot,
dedup (exact / minhash-LSH / jaccard / simhash / embedding), similarity
(brute force vs LSH recall), vector math."""

from __future__ import annotations

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.functions.vectors import cosine, dot, l2_distance
from job_datapipeline_spark.operators import dedup, similarity
from job_datapipeline_spark.operators.topk import top_k_per_group, top_k_pivot


def test_topk_deterministic_ties(spark):
    # two rows tie on the order col; tiebreak col must decide, repeatably
    df = spark.createDataFrame(
        [("g", "b", 5), ("g", "a", 5), ("g", "c", 4)], "grp string, tok string, cnt int"
    )
    for _ in range(3):
        rows = top_k_per_group(df, ["grp"], "cnt", 2, tiebreak_cols=["tok"]).collect()
        got = [(r["tok"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])]
        assert got == [("a", 1), ("b", 2)]


def test_top_k_pivot_shape(spark):
    df = spark.createDataFrame(
        [("g1", 3, "x"), ("g1", 2, "y"), ("g2", 1, "z")], "grp string, cnt int, tok string"
    )
    out = top_k_pivot(df, ["grp"], "cnt", "tok", k=3)
    assert out.columns == ["grp", "top_skill_n_1", "top_skill_n_2", "top_skill_n_3"]
    rows = {r["grp"]: r for r in out.collect()}
    assert rows["g1"]["top_skill_n_1"] == "x" and rows["g1"]["top_skill_n_2"] == "y"
    assert rows["g2"]["top_skill_n_1"] == "z" and rows["g2"]["top_skill_n_3"] is None


def _window_pivot(df, k):
    """The reference form: window ``row_number`` top-k, then a pivot of rank
    1..k into columns."""
    ranked = top_k_per_group(df, ["grp"], "cnt", k, tiebreak_cols=["tok"])
    pivoted = ranked.groupBy("grp").pivot("rank", list(range(1, k + 1))).agg(F.first("tok"))
    return pivoted.select(
        "grp", *[F.col(f"`{i}`").alias(f"top_skill_n_{i}") for i in range(1, k + 1)]
    )


_TOPK_ROW = st.tuples(
    st.sampled_from(["g1", "g2", "g3", None]),
    st.sampled_from(["a", "b", "B", "ab", "", "é", None]),
    st.integers(1, 3),  # a narrow range: heavy count ties
)


@settings(max_examples=12, deadline=None)
@given(rows=st.lists(_TOPK_ROW, min_size=1, max_size=24), k=st.integers(1, 6))
@example(rows=[("g1", "b", 2), ("g1", "a", 2), ("g1", "c", 2), ("g2", "z", 1)], k=1)
@example(rows=[("g1", "b", 2), ("g1", "a", 2), ("g2", "z", 1)], k=5)
def test_top_k_pivot_matches_window_pivot(spark, rows, k):
    """Ties break by token ascending (NULL first, as ``ORDER BY tok`` does);
    a group with fewer than k tokens has NULL trailing columns, not an
    index error."""
    df = spark.createDataFrame(rows, "grp string, tok string, cnt int")

    def key(r):
        return (r[0] is not None, r[0])

    got = sorted((tuple(r) for r in top_k_pivot(df, ["grp"], "cnt", "tok", k).collect()), key=key)
    want = sorted((tuple(r) for r in _window_pivot(df, k).collect()), key=key)
    assert got == want


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["dup_count"] for r in dedup.exact_dedup(df).collect()}
    # 1 and 2 collapse (case+whitespace normalized); min id 1 kept
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated text about spark query engines and shuffles everywhere"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df, num_hashes=16)
    assert sigs.count() == 3 * 16
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_pairs_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")], "doc_id long, text string"
    )
    rows = dedup.jaccard_pairs(df, shingle_n=3, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_simhash_near_dup_low_hamming(spark):
    base = "spark makes distributed data processing declarative and fast " * 3
    near = base + "extra"
    far = "unrelated words entirely different content zebra quantum pickle"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id long, text string")
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert hamming(sig[1], sig[2]) < hamming(sig[1], sig[3])


def test_embedding_near_dups_and_self_similarity(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").limit(50)
    dup = emb.select(F.col("vec_id") + 1000, F.col("embedding"), F.col("label"))
    both = emb.union(dup)
    pairs = dedup.embedding_near_dups(both, threshold=0.999999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every vector and its copy must pair up
    expect = {(r["vec_id"], r["vec_id"] + 1000) for r in emb.select("vec_id").collect()}
    assert expect <= got


def test_vector_math_matches_python(spark):
    a, b = [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("dot"),
        cosine(F.col("a"), F.col("b")).alias("cos"),
        l2_distance(F.col("a"), F.col("b")).alias("l2"),
    ).first()
    assert row["dot"] == 32.0
    exp_cos = 32.0 / (math.sqrt(14) * math.sqrt(77))
    assert abs(row["cos"] - exp_cos) < 1e-12
    assert abs(row["l2"] - math.sqrt(27)) < 1e-12


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.lsh_topk(emb, queries, k=5, num_planes=4, dim=64)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4 planes -> 16 buckets over 500 vectors; self-match always recalled,
    # neighbors usually. Loose bound: recall must beat random bucketing.
    assert recall >= 0.3, f"LSH recall {recall:.2f} suspiciously low"
    # and the exact path must rank each query's own vector first
    firsts = {r["q_id"]: r["vec_id"] for r in exact.collect() if r["rank"] == 1}
    assert all(q == v for q, v in firsts.items())


def test_simhash_rejects_dishonest_bit_widths(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest

    with pytest.raises(ValueError, match="bits"):
        dedup.simhash(df, bits=64)
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash(df, bits=0)
    # the honest maximum works
    assert dedup.simhash(df, bits=60).count() == 1


def test_minhash_covers_short_docs(spark):
    # doc 2 has fewer tokens than shingle_n=3: whole-doc fallback shingle
    # must keep it in the signature/pair space (no silent coverage hole)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(df, num_hashes=8)
    assert sigs.select("doc_id").distinct().count() == 3
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(sigs, bands=2).collect()}
    assert (2, 3) in pairs  # identical short docs must collide


def test_lsh_topk_dim_mismatch_fails_loudly(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame([(9, [1.0, 2.0, 3.0])], "q_id long, embedding array<double>")
    with pytest.raises(Exception, match="dim mismatch"):
        similarity.lsh_topk(df, q, k=1, num_planes=2, dim=64).collect()


def test_near_dedup_matches_brute_force_jaccard(spark, sf_dir):
    """The composed LSH->verify pipeline must drop the same docs the
    brute-force jaccard path identifies (at these settings every >=0.8
    pair shares a full band, so candidate recall is total here)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(100)
    dup = docs.select((F.col("doc_id") + 5000).alias("doc_id"), "text")
    corpus = docs.union(dup)

    kept = {r["doc_id"] for r in dedup.near_dedup(corpus, num_hashes=8, bands=4).collect()}
    brute = dedup.jaccard_pairs(corpus, threshold=0.8)
    brute_drops = {r["id_b"] for r in brute.select("id_b").distinct().collect()}
    expect_kept = {r["doc_id"] for r in corpus.collect()} - brute_drops
    assert kept == expect_kept
    # exact copies must all be dropped
    assert all(d >= 5000 or d in kept for d in expect_kept)


def test_jaccard_verify_candidate_driven(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e g"), (4, "z y x w v u")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.jaccard_verify(df, pairs).collect()}
    assert got[(1, 2)] == 1.0
    assert 0 < got[(1, 3)] < 1.0
    assert (1, 4) not in got  # zero shared shingles -> no row


def test_asof_join_semantics(spark):
    from job_datapipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 50, "d"), (3, 9, "e")],
        "k long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0, 100), (1, 15, 2.0, 101), (2, 60, 3.0, 102)],
        "k long, t long, px double, rid long",
    )
    out = {
        r["tag"]: r["px"]
        for r in asof_join(
            left, right, "k", "k", "t", "t", ["px"], right_order="rid"
        ).collect()
    }
    assert out["a"] == 1.0   # equal ts is visible (<= semantics)
    assert out["b"] == 2.0   # latest prior
    assert out["c"] is None  # nothing at or before
    assert out["d"] is None  # right row is later
    assert out["e"] is None  # no right rows for key


def test_asof_join_ties_pick_highest_order(spark):
    from job_datapipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, "first", 1), (1, 10, "second", 2)], "k long, t long, v string, rid long"
    )
    row = asof_join(left, right, "k", "k", "t", "t", ["v"], right_order="rid").first()
    assert row["v"] == "second"


def test_asof_payload_fields_from_same_row(spark):
    # a right row with a NULL payload field must not inherit the field from
    # an older row — the carried struct is atomic
    from job_datapipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 30)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, "old", 9.0), (1, 20, "new", None)], "k long, t long, v string, px double"
    )
    row = asof_join(left, right, "k", "k", "t", "t", ["v", "px"]).first()
    assert row["v"] == "new" and row["px"] is None


def test_salted_join_equals_plain_join(spark, sf_dir):
    from job_datapipeline_spark.operators.skew import salted_join

    ev = table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted = salted_join(ev, c, "c_custkey", "event_id", salt=8)
    plain = ev.join(c, "c_custkey")
    assert salted.count() == plain.count()
    s = {tuple(r) for r in salted.groupBy("c_mktsegment").count().collect()}
    p = {tuple(r) for r in plain.groupBy("c_mktsegment").count().collect()}
    assert s == p


def test_embedding_near_dedup_composed(spark, sf_dir):
    """Composed bucket->verify->keep-list: every planted exact copy is
    dropped (identical vectors always share a bucket), every drop is sound
    (has a verified >=threshold dup with smaller id), and survivors among
    the copies are exactly the originals."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 100)
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    survivors = {
        r["vec_id"] for r in dedup.embedding_near_dedup(corpus, threshold=0.99).collect()
    }
    # recall on planted dups: no +10000 copy can survive — its original is
    # in the same bucket with cosine 1.0
    assert not {v for v in survivors if v >= 10000}
    # soundness: every dropped original must have a smaller-id near-dup
    # verified by the brute-force pair list
    brute = dedup.embedding_near_dups(corpus, threshold=0.99)
    dup_ids = {r["id_b"] for r in brute.collect()}
    dropped = {r["vec_id"] for r in base.collect()} - survivors
    assert dropped <= dup_ids


def test_simhash_pairs_finds_planted_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today yes"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated text about spark query engines and shuffles everywhere now"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(df, bits=48, bands=4, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0  # exact copies: identical signature
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated text


def test_simhash_pairs_guards_parameters(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        dedup.simhash_pairs(df, bits=50, bands=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(df, bits=48, bands=4, max_hamming=4)


def test_deterministic_sample_stable_and_sized(spark, sf_dir):
    from job_datapipeline_spark.operators import sampling

    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    s1 = sorted(
        r["doc_id"] for r in sampling.deterministic_sample(docs, "doc_id", 0.25).collect()
    )
    s2 = sorted(
        r["doc_id"]
        for r in sampling.deterministic_sample(
            docs.repartition(7), "doc_id", 0.25
        ).collect()
    )
    assert s1 == s2  # identical under repartition (df.sample is not)
    assert 0.15 * n < len(s1) < 0.35 * n
    s_other = sorted(
        r["doc_id"]
        for r in sampling.deterministic_sample(docs, "doc_id", 0.25, salt="x").collect()
    )
    assert s_other != s1  # salt re-draws


def test_stratified_sample_exact_k_per_group(spark, sf_dir):
    from job_datapipeline_spark.operators import sampling

    docs = table(spark, sf_dir, "documents")
    out = sampling.stratified_sample_k(docs, "lang", "doc_id", 5)
    per_group = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert all(v == 5 for v in per_group.values())
    # deterministic across invocations
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample_k(docs, "lang", "doc_id", 5).collect()
    )
    assert a == b


def test_connected_components_transitive_chain(spark):
    # a~b and b~c but NOT a~c: greedy near_dedup keeps a and c separate;
    # components must put all three in one cluster labeled min id
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path graph needs several propagation rounds; fixpoint must
    # still label everything with the global min
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_winnow_shared_substring_shares_fingerprint(spark):
    # guarantee: a shared substring of length >= w + k - 1 (= 8 here)
    # contributes at least one identical fingerprint to both docs
    shared = "the stolen paragraph of text"
    rows = [
        (1, "intro alpha " + shared + " outro beta"),
        (2, "completely different framing " + shared + " and ending"),
        (3, "no overlap with anything here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(df, k=5, w=4)
    by_doc = {
        i: {r["fingerprint"] for r in fps.filter(F.col("doc_id") == i).collect()}
        for i in (1, 2, 3)
    }
    assert by_doc[1] & by_doc[2], "docs sharing a long substring must share a fingerprint"
    # doc 3 shares common English fragments (' the ', ' at a') shorter than
    # the guarantee; the overlap signal must still be far weaker
    assert len(by_doc[1] & by_doc[2]) > len(by_doc[1] & by_doc[3])


def test_winnow_short_docs_emit_nothing(spark):
    df = spark.createDataFrame([(1, "tiny"), (2, "x"), (3, "")], "doc_id long, text string")
    assert dedup.winnow_fingerprints(df, k=5, w=4).count() == 0


def test_split_assign_partitions_everything_once(spark, sf_dir):
    from job_datapipeline_spark.catalog import table
    from job_datapipeline_spark.operators import sampling

    docs = table(spark, sf_dir, "documents").select("doc_id")
    bounds = [("train", 0.8), ("val", 0.9), ("test", 1.0)]
    out = sampling.split_assign(docs, "doc_id", bounds).collect()
    assert len(out) == docs.count()  # total function: nothing dropped
    by_split = {}
    for r in out:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by_split) == {"train", "val", "test"}
    # disjoint
    assert sum(len(v) for v in by_split.values()) == len(out)
    # roughly proportional (md5 is uniform; 500 draws)
    assert len(by_split["train"]) > len(by_split["val"])
    # stable across recomputation
    again = {
        (r["doc_id"], r["split"])
        for r in sampling.split_assign(docs, "doc_id", bounds).collect()
    }
    assert {(r["doc_id"], r["split"]) for r in out} == again


def test_split_assign_rejects_bad_bounds(spark):
    import pytest as _pt

    from job_datapipeline_spark.operators import sampling

    df = spark.range(5)
    with _pt.raises(ValueError):
        sampling.split_assign(df, "id", [("only", 1.0)])
    with _pt.raises(ValueError):
        sampling.split_assign(df, "id", [("a", 0.9), ("b", 0.5)])
    with _pt.raises(ValueError):
        sampling.split_assign(df, "id", [("a", 0.5), ("b", 0.8)])


def test_pack_sequences_respects_running_capacity(spark):
    from pyspark.sql import functions as F

    from job_datapipeline_spark.operators import sampling

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 * 30 + 10).alias("n_tokens")
    )
    packed = sampling.pack_sequences(
        df, "doc_id", "n_tokens", capacity=256, n_buckets=4
    ).collect()
    assert len(packed) == 200  # nothing dropped
    assert {r["bucket"] for r in packed} <= set(range(4))
    # within each (bucket, seq): the pack's starting offset is < capacity
    # past the pack boundary only via a straddling doc; pack ids are dense
    by_bucket = {}
    for r in packed:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for _rows in by_bucket.values():
        seqs = sorted({r["seq"] for r in _rows})
        assert seqs[0] == 0
        assert seqs == list(range(len(seqs)))  # dense pack ids
        total = sum(r["n_tokens"] for r in _rows)
        # every pack except possibly the last holds >= capacity worth of
        # starts, so pack count is bounded by total/capacity + 1
        assert len(seqs) <= total // 256 + 1


def test_ngram_overlap_flags_planted_contamination(spark):
    from job_datapipeline_spark.operators.decontam import ngram_overlap_flags

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, base),  # benchmark doc
        (2, "one two three four five six seven eight nine ten"),  # clean
        (3, base + " extra suffix words"),  # contaminated: shares 8-grams
        (4, "short doc"),  # too short to ever be flagged
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = corpus.filter("doc_id = 1")
    out = {r["doc_id"]: r for r in ngram_overlap_flags(corpus, bench, n=8).collect()}
    assert set(out) == {3}  # self-match (1) excluded, clean/short not flagged
    assert out[3]["n_shared_grams"] == 3  # 10-token doc shares all 3 base 8-grams
    assert out[3]["n_bench_docs"] == 1


# --- hot-key salted join ---------------------------------------------------

def test_salted_hotkeys_identical_to_plain_join(spark, sf_dir):
    from job_datapipeline_spark.operators.skew import (
        detect_hot_keys,
        salted_join_hotkeys,
    )

    ev = table(spark, sf_dir, "events").withColumnRenamed("user_id", "k")
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    hot = detect_hot_keys(ev, "k", min_count=5)
    salted = salted_join_hotkeys(ev, dim, "k", "event_id", hot, salt=8)
    plain = ev.join(dim, "k")
    assert salted.count() == plain.count()
    # exact multiset equality via sorted (event_id, segment) pairs
    key = lambda df: sorted(
        (r["event_id"], r["c_mktsegment"]) for r in df.select("event_id", "c_mktsegment").collect()
    )
    assert key(salted) == key(plain)


def test_salted_hotkeys_expands_dim_less_than_full_salting(spark):
    from job_datapipeline_spark.operators.skew import salted_join_hotkeys

    # 100-key dim, 2 hot keys, salt 8: hot-only expansion = 100 + 7*2 = 114
    # rows vs full salting's 800. Count the exploded dim by reusing the
    # operator's own dim-side construction via a left join probe.
    fact = spark.range(0, 1000).select(
        (F.col("id") % 2).alias("k"), F.col("id").alias("rid")
    )
    dim = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    hot = spark.createDataFrame([(0,), (1,)], "k long")
    out = salted_join_hotkeys(fact, dim, "k", "rid", hot, salt=8)
    plain = fact.join(dim, "k")
    assert out.count() == plain.count() == 1000  # keys 0/1 both in dim

    # structural guarantee: replicated dim row count
    hot_b = F.broadcast(hot.withColumn("_hot", F.lit(True)))
    d = (
        dim.join(hot_b, "k", "left")
        .withColumn(
            "_salts",
            F.when(F.col("_hot").isNotNull(), F.sequence(F.lit(0), F.lit(7)))
            .otherwise(F.array(F.lit(0))),
        )
        .select(F.explode("_salts"))
    )
    assert d.count() == 100 + 7 * 2  # far below 100 * 8


def test_detect_hot_keys_rules(spark):
    from job_datapipeline_spark.operators.skew import detect_hot_keys

    rows = [(k,) for k in [1] * 50 + [2] * 10 + [3] * 2]
    df = spark.createDataFrame(rows, "k long")
    assert {r["k"] for r in detect_hot_keys(df, "k", min_count=5).collect()} == {1, 2}
    assert {r["k"] for r in detect_hot_keys(df, "k", top_k=1).collect()} == {1}
    # sampled estimate still surfaces the dominant key
    got = {r["k"] for r in detect_hot_keys(df, "k", min_count=5, sample_fraction=0.5).collect()}
    assert 1 in got


def test_mixture_sample_hits_target_shares(spark, sf_dir):
    from job_datapipeline_spark.operators.sampling import mixture_sample

    docs = table(spark, sf_dir, "documents")
    weights = {"en": 0.25, "de": 0.1875, "es": 0.1875, "fr": 0.1875, "zh": 0.1875}
    kept = mixture_sample(docs, "lang", weights, "doc_id", salt="t")
    counts = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    # realized shares within Bernoulli noise of the targets (500-doc corpus)
    for lang, w in weights.items():
        assert abs(counts[lang] / total - w) < 0.08, (lang, counts)
    # binding group (smallest n/w ratio) keeps ~all of its rows
    orig = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    binding = min(orig, key=lambda g: orig[g] / weights[g])
    assert counts[binding] >= orig[binding] * 0.95
    # deterministic: second run keeps the identical row set
    again = mixture_sample(docs, "lang", weights, "doc_id", salt="t")
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == \
           sorted(r["doc_id"] for r in again.select("doc_id").collect())


def test_mixture_sample_validates_weights(spark, sf_dir):
    import pytest as _pytest

    from job_datapipeline_spark.operators.sampling import mixture_sample

    docs = table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        mixture_sample(docs, "lang", {}, "doc_id")
    with _pytest.raises(ValueError):
        mixture_sample(docs, "lang", {"en": 0.5, "de": 0.2}, "doc_id")


# --- as-of join directions/tolerance ---------------------------------------

def _asof_fixture(spark):
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 205, "b"), (2, 150, "c"), (3, 100, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 100, 10.0, 1), (1, 200, 20.0, 2), (1, 210, 21.0, 3), (2, 400, 40.0, 4)],
        "k long, ts long, v double, rid long",
    )
    return left, right


def test_asof_forward_and_backward_semantics(spark):
    from job_datapipeline_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    back = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(left, right, "k", "k", "ts", "ts", ["v"], right_order="rid").collect()
    }
    # equal ts visible; latest at-or-before; no match -> null
    assert back == {(1, 100): 10.0, (1, 205): 20.0, (2, 150): None, (3, 100): None}
    fwd = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            left, right, "k", "k", "ts", "ts", ["v"], right_order="rid", direction="forward"
        ).collect()
    }
    assert fwd == {(1, 100): 10.0, (1, 205): 21.0, (2, 150): 40.0, (3, 100): None}


def test_asof_nearest_prefers_backward_on_tie(spark):
    from job_datapipeline_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    near = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            left, right, "k", "k", "ts", "ts", ["v"], right_order="rid", direction="nearest"
        ).collect()
    }
    # (1,205): back=200 (d=5), fwd=210 (d=5) -> tie -> backward's 20.0
    assert near == {(1, 100): 10.0, (1, 205): 20.0, (2, 150): 40.0, (3, 100): None}


def test_asof_tolerance_nulls_far_matches(spark):
    from job_datapipeline_spark.operators.asof import asof_join

    left, right = _asof_fixture(spark)
    near = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            left, right, "k", "k", "ts", "ts", ["v"],
            right_order="rid", direction="nearest", tolerance="100",
        ).collect()
    }
    # (2,150): nearest is 400 at distance 250 > 100 -> null
    assert near == {(1, 100): 10.0, (1, 205): 20.0, (2, 150): None, (3, 100): None}

    with __import__("pytest").raises(ValueError):
        asof_join(left, right, "k", "k", "ts", "ts", ["v"], direction="sideways")


def test_funnel_requires_order(spark):
    from job_datapipeline_spark.operators.funnel import funnel_steps

    rows = [
        # u1 completes in order
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # u2: click BEFORE view -> chain stops at view
        (2, 20, "view"), (2, 10, "click"), (2, 30, "purchase"),
        # u3: view+click same ts (allowed), no purchase
        (3, 10, "view"), (3, 10, "click"),
        # u4 never views -> absent
        (4, 10, "click"), (4, 20, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {
        r["user_id"]: (r["reached"], r["t1"], r["t2"], r["t3"])
        for r in funnel_steps(ev, ["view", "click", "purchase"]).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (3, 10, 20, 30)
    # u2's purchase qualifies only if a click at/after the view exists — none
    assert got[2] == (1, 20, None, None)
    assert got[3] == (2, 10, 10, None)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel_steps(ev, ["view"])


def test_salted_joins_reject_dim_preserving_how(spark):
    import pytest as _pytest

    from job_datapipeline_spark.operators.skew import salted_join, salted_join_hotkeys

    f = spark.range(10).selectExpr("id AS k", "id AS rid")
    d = spark.range(5).selectExpr("id AS k", "id AS v")
    hot = spark.createDataFrame([(0,)], "k long")
    for how in ("full", "right", "outer", "full_outer"):
        with _pytest.raises(ValueError):
            salted_join(f, d, "k", "rid", how=how)
        with _pytest.raises(ValueError):
            salted_join_hotkeys(f, d, "k", "rid", hot, how=how)
    # fact-preserving forms still work
    assert salted_join(f, d, "k", "rid", how="left").count() == 10


def test_mixture_sample_rejects_absent_group(spark, sf_dir):
    """The absent-group guard is IN-PLAN (raise_error on the unmatched side
    of the weight-dim left join), so it fires on action, not at call time —
    no driver-side distinct-collect remains in the operator."""
    import pytest as _pytest
    from pyspark.errors.exceptions.base import PySparkException

    from job_datapipeline_spark.operators.sampling import mixture_sample

    docs = table(spark, sf_dir, "documents")
    with _pytest.raises(PySparkException, match="absent"):
        mixture_sample(docs, "lang", {"en": 0.5, "xx": 0.5}, "doc_id").count()


def test_kmeans_refinement_does_not_increase_objective(spark, sf_dir):
    """Lloyd's algorithm guarantees the within-cluster sum of squared
    distances is non-increasing across an assign->update->reassign
    iteration; verify on the embeddings corpus (small epsilon absorbs the
    6dp centroid rounding the cross-engine oracle needs)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from job_datapipeline_spark.functions.vectors import l2_distance
    from job_datapipeline_spark.plans.ann import _IVF_CENT_IDS
    from job_datapipeline_spark.plans.queries import REGISTRY

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents0 = emb.filter(F.col("vec_id").isin(*_IVF_CENT_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("_cent")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("_d"), F.asc("cid"))
    a0 = (
        emb.select("vec_id", F.col("embedding").alias("_v"))
        .join(F.broadcast(cents0))
        .withColumn("_d", l2_distance(F.col("_v"), F.col("_cent")))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
    )
    ssd0 = a0.agg(F.sum(F.col("_d") * F.col("_d"))).first()[0]
    out = REGISTRY["embedding_kmeans_refine"].fn(spark, sf_dir).toPandas()
    ssd1 = float((out["mean_dist"] ** 2 * out["n_vecs"]).sum())
    assert out["n_vecs"].sum() == emb.count()  # every vector assigned once
    assert ssd1 <= ssd0 * 1.001, (ssd0, ssd1)


def test_temperature_sample_flattens_toward_sqrt_shares(spark, sf_dir):
    from job_datapipeline_spark.operators.sampling import temperature_sample

    docs = table(spark, sf_dir, "documents")
    orig = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    kept = temperature_sample(docs, "lang", "doc_id", alpha=0.5, salt="tt")
    counts = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # the smallest group is binding: p = sqrt(n_min/n_min) = 1 -> keeps ALL
    n_min_lang = min(orig, key=orig.get)
    assert counts[n_min_lang] == orig[n_min_lang]
    # every other group's expected keep is sqrt(n_min * n_g); realized count
    # within Bernoulli noise (4 sigma) of it
    n_min = orig[n_min_lang]
    for lang, n in orig.items():
        expect = math.sqrt(n_min * n)
        assert abs(counts[lang] - expect) <= 4 * math.sqrt(expect) + 1, (
            lang, counts[lang], expect)
    # deterministic replay
    again = temperature_sample(docs, "lang", "doc_id", alpha=0.5, salt="tt")
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == \
           sorted(r["doc_id"] for r in again.select("doc_id").collect())
    # alpha=1 keeps natural proportions: every group keeps everything
    natural = temperature_sample(docs, "lang", "doc_id", alpha=1.0, salt="tt")
    assert natural.count() == docs.count()


def test_semantic_prune_drops_planted_copies_only_within_cells(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 100)
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 5000).alias("vec_id"), "embedding")
    )
    kept = dedup.semantic_prune(corpus, threshold=0.95)
    ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    # every planted copy (identical vector, higher id, same cell) is dropped
    assert not any(i >= 5000 for i in ids), sorted(i for i in ids if i >= 5000)[:5]
    # every original survives unless it near-dups another original
    n_base = base.count()
    assert len(ids) <= n_base
    assert len(ids) >= n_base - 5  # random 64-dim vectors rarely cos>=0.95
    # cell column present and consistent with the quantizer's assignment
    cells = kept.select("cell").distinct().count()
    assert 1 <= cells <= 8
