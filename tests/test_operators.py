"""Unit tests: rolling reduce, interval join (KP≡DP), routing, dedup,
similarity, text functions, multimodal plumbing."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from windflow_spark.operators.interval_join import interval_join
from windflow_spark.operators.reduce import rolling_reduce
from windflow_spark.operators.routing import merge_pipes, split_by, split_pipe
from windflow_spark.plans.explain import keyed_shuffle_count, physical_plan

SEC = 1_000_000


def _mk(spark, rows, schema="key long, value long, ts timestamp"):
    return spark.createDataFrame(
        [(k, v, dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=ts)) for k, v, ts in rows],
        schema,
    )


def test_rolling_reduce_emits_per_input(spark):
    df = _mk(spark, [(1, 10, 0), (1, 20, SEC), (1, 30, 2 * SEC), (2, 7, 0)])
    out = rolling_reduce(df, ["key"], ["ts"], {"rsum": F.sum("value")})
    got = {(r.key, r.value, r.rsum) for r in out.collect()}
    assert got == {(1, 10, 10), (1, 20, 30), (1, 30, 60), (2, 7, 7)}
    assert out.count() == df.count()  # one output per input (update mode)


def test_interval_join_inclusive_bounds(spark):
    # b.ts ∈ [a.ts + lower, a.ts + upper], bounds inclusive
    # (reference wf/builders.hpp:1480-1493)
    a = _mk(spark, [(1, 100, 5 * SEC)])
    b = _mk(spark, [(1, 1, 4 * SEC), (1, 2, 5 * SEC), (1, 3, 7 * SEC), (1, 4, 8 * SEC), (2, 5, 6 * SEC)])
    j = interval_join(a, b, ["key"], "ts", "ts", 0, 2 * SEC)
    got = sorted(r["value"] for r in j.select(F.col("b.value")).collect())
    assert got == [2, 3]  # 4s too early, 8s too late, key 2 no match


def test_interval_join_kp_equals_dp(spark):
    rows_a = [(k % 3, v, v * 400_000) for k, v in enumerate(range(30))]
    rows_b = [(k % 3, v + 100, v * 500_000) for k, v in enumerate(range(30))]
    a, b = _mk(spark, rows_a), _mk(spark, rows_b)
    kp = interval_join(a, b, ["key"], "ts", "ts", 0, 2 * SEC)
    dp = interval_join(a, b, ["key"], "ts", "ts", 0, 2 * SEC, broadcast_side="b")
    k = sorted(map(tuple, kp.select("a.value", "b.value").collect()))
    d = sorted(map(tuple, dp.select("a.value", "b.value").collect()))
    assert k == d and len(k) > 0


def test_interval_join_bucketed_equals_plain(spark):
    # time-bucket blocking (join key = (key, bucket)) must be result-equal
    # to the plain keyed form for any bucket width — including widths
    # narrower than the match span (more A replicas) and much wider (1
    # replica). Negative lower bound exercised too.
    from windflow_spark.operators.interval_join import interval_join_bucketed

    rows_a = [(k % 2, v, v * 700_000) for k, v in enumerate(range(40))]
    rows_b = [(k % 2, v + 100, v * 300_000 + 123) for k, v in enumerate(range(40))]
    a, b = _mk(spark, rows_a), _mk(spark, rows_b)
    for lower, upper in [(0, 2 * SEC), (-SEC, SEC)]:
        plain = interval_join(a, b, ["key"], "ts", "ts", lower, upper)
        want = sorted(map(tuple, plain.select("a.value", "b.value").collect()))
        assert len(want) > 0
        for width in [None, SEC // 2, 10 * SEC]:
            blocked = interval_join_bucketed(
                a, b, ["key"], "ts", "ts", lower, upper, bucket_us=width
            )
            got = sorted(map(tuple, blocked.select("a.value", "b.value").collect()))
            assert got == want, f"width={width} lower={lower}"
            # helper bucket columns must not leak into the result schema
            assert "__ij_bkt" not in blocked.columns


def test_split_multicast_and_merge(spark):
    df = _mk(spark, [(1, 5, 0), (2, 15, SEC), (3, 25, 2 * SEC)])
    # overlapping predicates → multicast (vector<int> splitting form)
    branches = split_pipe(df, [F.col("value") > 10, F.col("value") > 20])
    assert branches[0].count() == 2 and branches[1].count() == 1
    merged = merge_pipes(*branches)
    assert merged.count() == 3  # row with value=25 delivered to both branches


def test_split_by_int_router(spark):
    df = _mk(spark, [(i, i, i * SEC) for i in range(9)])
    parts = split_by(df, (F.col("key") % 3).cast("int"), 3)
    assert [p.count() for p in parts] == [3, 3, 3]


def test_exact_dedup(spark):
    from windflow_spark.functions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "doc_id long, text string"
    )
    out = exact_dedup(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]


def test_minhash_lsh_finds_near_dups(spark):
    from windflow_spark.functions.dedup import minhash_lsh_candidates, ngram_jaccard

    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    near = base.replace("lazy", "sleepy")
    far = "completely different words about spark distributed query engines at scale"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    cands = minhash_lsh_candidates(docs, num_hashes=16, bands=8)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs
    verified = ngram_jaccard(cands, docs)
    jac = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert jac[(1, 2)] > 0.5


def test_shingle_stream_equals_array_form(spark):
    """The lead-window shingle stream (r4 rewrite) must produce EXACTLY the
    same per-doc shingle sets as the original array-HOF form on adversarial
    inputs: empty docs, 1/2-token docs (below k), heavy duplication,
    repeated tokens, long docs."""
    import random

    from windflow_spark.functions.dedup import shingle_sets, shingles_of
    from windflow_spark.functions.text import tokens

    rng = random.Random(42)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    rows = [(1, ""), (2, "one"), (3, "one two"), (4, "x x x x x x")]
    rows += [
        (10 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    array_form = {
        r.doc_id: sorted(r.sh)
        for r in docs.select(
            "doc_id", shingles_of(tokens("text"), 3).alias("sh")
        ).collect()
        if r.sh  # array form emits empty lists; stream form drops the doc
    }
    stream_form = {
        r.doc_id: sorted(r._sh) for r in shingle_sets(docs).collect()
    }
    assert stream_form == array_form


def test_minhash_lsh_bucket_width_cap(spark):
    """max_bucket_width drops hot-bucket pairs (quadratic work, no signal)
    while distinct near-dup pairs in narrow buckets survive (SCALE.md open
    item: boilerplate-dominated corpora)."""
    from windflow_spark.functions.dedup import minhash_lsh_candidates

    boiler = "standard site navigation header terms privacy cookie banner text"
    rows = [(i, boiler) for i in range(1, 9)]  # 8 identical docs → hot buckets
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    rows += [(100, base), (101, base.replace("lazy", "sleepy"))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, num_hashes=16, bands=8).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            docs, num_hashes=16, bands=8, max_bucket_width=4
        ).collect()
    }
    assert (1, 2) in uncapped  # hot-bucket pair present without the cap
    assert not any(a < 100 and b < 100 for a, b in capped)  # all dropped
    assert (100, 101) in capped  # genuine near-dup in a narrow bucket survives


def test_minhash_permutations_are_distinct(spark):
    """Regression: a `lambda s, p=p:` closure passed to F.transform makes the
    lambda BINARY (PySpark derives HOF arity from parameter count), binding p
    to the array-index variable — every permutation collapses to the same
    degenerate hash. Shipped broken in r1; caught by the r2 value oracle.
    The signature must contain (almost entirely) distinct per-permutation
    minima in both hash modes, and the md5 mode must match hashlib exactly."""
    import hashlib

    from pyspark.sql import functions as F

    from windflow_spark.functions.dedup import (
        minhash_signature,
        minhash_signatures_agg,
        shingles_of,
    )
    from windflow_spark.functions.text import tokens

    text = "the quick brown fox jumps over the lazy dog again and again in the yard"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sh = df.select("doc_id", tokens("text").alias("_t")).select(
        "doc_id", shingles_of(F.col("_t"), 3).alias("_sh")
    )
    xx_sig = sh.select(minhash_signature(F.col("_sh"), 16).alias("s")).collect()[0].s
    assert len(set(xx_sig)) >= 12, f"xxhash64 permutations collapsed: {xx_sig}"
    # the agg form must agree with the HOF form permutation-by-permutation
    xx_agg = minhash_signatures_agg(sh, "doc_id", "_sh", 16).collect()[0]._sig
    assert xx_agg == list(xx_sig)

    md5_sig = (
        minhash_signatures_agg(sh, "doc_id", "_sh", 16, hash_mode="md5")
        .collect()[0]
        ._sig
    )
    toks = [t for t in text.split(" ") if t]
    py_shingles = list(dict.fromkeys(
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    ))
    bases = [
        (int(hashlib.md5(s.encode()).hexdigest()[0:15], 16),
         int(hashlib.md5(s.encode()).hexdigest()[15:29], 16))
        for s in py_shingles
    ]
    expect = [min(b1 + p * b2 for b1, b2 in bases) for p in range(16)]
    assert md5_sig == expect


def test_simhash_near_dup_distance(spark):
    from windflow_spark.functions.dedup import simhash

    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base.replace("dog", "cat")), (3, "unrelated text entirely about databases")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.simhash for r in simhash(docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_simhash_empty_docs_in_batch(spark):
    """Empty-text docs get signature 0 and must not disturb neighbors —
    including a trailing empty doc, whose reduceat offset lands at len(flat)
    and needs the sentinel row (ADVICE r2: the offset-clamping bug stole the
    previous doc's final token vote)."""
    from windflow_spark.functions.dedup import simhash

    base = "the quick brown fox jumps over the lazy dog"
    with_empties = spark.createDataFrame(
        # coalesce(1) in-test via single partition: keep all docs in ONE
        # Arrow batch so the trailing-empty path is actually exercised
        [(1, ""), (2, base), (3, ""), (4, base), (5, "")],
        "doc_id long, text string",
    ).coalesce(1)
    out = {r.doc_id: r.simhash for r in simhash(with_empties).collect()}
    assert out[1] == 0 and out[3] == 0 and out[5] == 0
    # non-empty docs unchanged vs a batch without any empty docs
    alone = spark.createDataFrame([(9, base)], "doc_id long, text string")
    ref = simhash(alone).collect()[0].simhash
    assert out[2] == ref and out[4] == ref


def test_brute_force_topk(spark):
    from windflow_spark.functions.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    out = brute_force_topk(corpus, queries, k=2)
    rows = sorted((r.rk, r.vec_id) for r in out.collect())
    assert rows == [(1, 1), (2, 2)]  # exact match first, near second


def test_brute_force_topk_refuses_large_query_side(spark):
    """The broadcast nested-loop contract is enforced: a query side above
    max_query_rows raises instead of silently planning O(corpus x queries)
    (VERDICT r2 'wrong' #3)."""
    import pytest

    from windflow_spark.functions.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(100 + i, [1.0, 0.0]) for i in range(5)],
        "query_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        brute_force_topk(corpus, queries, k=1, max_query_rows=3)
    # opt-out works, and under-limit sides are untouched
    assert brute_force_topk(corpus, queries, k=1, max_query_rows=None).count() == 5
    assert brute_force_topk(corpus, queries, k=1, max_query_rows=5).count() == 5


def test_redact_pii(spark):
    from windflow_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567"),
            (2, "server at 192.168.0.1 responded"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.red for r in df.select("doc_id", redact_pii("text").alias("red")).collect()}
    assert "<EMAIL>" in out[1] and "<PHONE>" in out[1]
    assert "jane" not in out[1] and "555" not in out[1]
    assert out[2] == "server at <IP> responded"
    assert out[3] == "nothing sensitive here"


def test_repetition_scores(spark):
    """Gopher-style signals: a templated doc scores high on both fractions,
    an all-distinct doc scores low; sub-bigram docs get 0.0 (not null)."""
    from windflow_spark.functions.text import repetition_scores

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),
            (2, "each word appears exactly once here"),
            (3, "single"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.dup_token_frac, r.top_bigram_frac) for r in repetition_scores(df).collect()}
    assert out[1][0] > 0.7 and out[1][1] > 0.5  # "buy now" dominates
    assert out[2][0] == 0.0 and out[2][1] < 0.5
    assert out[3] == (0.0, 0.0)


def test_repetition_scores_match_python_model(spark):
    """Randomized parity with a direct python model — both sides are exact
    integer-ratio IEEE divisions, so equality is bitwise."""
    import random
    from collections import Counter

    from windflow_spark.functions.text import repetition_scores

    rng = random.Random(99)
    vocab = ["the", "a", "of", "spark", "data", "x"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(80)
    ]
    got = {
        r.doc_id: (r.dup_token_frac, r.top_bigram_frac)
        for r in repetition_scores(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    for doc_id, text in rows:
        toks = [t for t in text.split(" ") if t]
        dup = 1.0 - len(set(toks)) / max(len(toks), 1)
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top = max(Counter(bgs).values()) / len(bgs) if bgs else 0.0
        assert got[doc_id] == (dup, top), doc_id


def test_lang_id_and_quality(spark):
    from windflow_spark.functions.text import lang_id_heuristic, quality_score

    df = spark.createDataFrame(
        [(1, "the cat and the dog is here"), (2, "el gato y la casa de que")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in lang_id_heuristic(df).collect()}
    assert out[1] == "en" and out[2] == "es"
    q = quality_score(df).collect()[0]
    assert 0.0 <= q.q_alpha_ratio <= 1.0


def test_multimodal_decode_plumbing(spark):
    from windflow_spark.functions.multimodal import attach_binary_metadata, decode_image_meta

    df = spark.createDataFrame(
        [(1, bytearray(b"fakejpegbytes")), (2, bytearray(b"anotherpayload!!"))],
        "media_id long, payload binary",
    )
    meta = attach_binary_metadata(df)
    assert meta.filter(F.col("payload_bytes") > 0).count() == 2
    decoded = decode_image_meta(df)
    rows = decoded.collect()
    assert len(rows) == 2 and all(r.width > 0 and r.channels == 3 for r in rows)


def test_pipegraph_facade(spark):
    from windflow_spark import PipeGraph

    df = _mk(spark, [(1, 5, 0), (1, 7, SEC), (2, 1, 2 * SEC)])
    g = PipeGraph(spark, "t")
    mp = g.add_source(df)
    out = (
        mp.filter(F.col("value") > 2)
        .with_column("doubled", F.col("value") * 2)
        .keyed_windows_tb(["key"], "ts", 2 * SEC, None, [F.sum("doubled").alias("s")])
        .add_sink()
    )
    got = {(r.key, r.s) for r in out.collect()}
    assert got == {(1, 24), }


def test_salted_join_equals_plain_join(spark):
    from windflow_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i % 4, i) for i in range(100)], "k long, v long"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, tag string")
    plain = sorted(map(tuple, big.join(small, "k").select("k", "v", "tag").collect()))
    salted = sorted(map(tuple, salted_join(big, small, ["k"]).select("k", "v", "tag").collect()))
    assert plain == salted and len(plain) == 75


def test_kslack_reorder_releases_in_ts_order(spark):
    from windflow_spark.operators.kslack import kslack_reorder

    # per-key arrival sequences with bounded disorder (delay <= 2 ticks)
    rows = []
    arrival = 0
    for key in (0, 1):
        base = [10, 30, 20, 50, 40, 70, 60, 90, 80, 100]  # swap-adjacent disorder
        for ts in base:
            rows.append((key, ts, arrival))
            arrival += 1
    df = spark.createDataFrame(rows, "key long, ts long, arr long")
    out = kslack_reorder(df, ["key"], "ts", "arr")
    got = {k: [] for k in (0, 1)}
    for r in sorted(out.collect(), key=lambda r: (r.key, r.emit_seq)):
        got[r.key].append(r.ts)
    for k in (0, 1):
        # released strictly in non-decreasing ts order
        assert got[k] == sorted(got[k])
        # K warms up from observed delays: only the first out-of-order tuple
        # (20, arriving while K is still 0) may be sacrificed
        assert sorted(got[k]) == [10, 30, 40, 50, 60, 70, 80, 90, 100]


def test_kslack_drops_behind_horizon(spark):
    from windflow_spark.operators.kslack import kslack_reorder

    seq = [10, 12, 11, 30, 28, 60, 55, 11, 90, 85]
    df = spark.createDataFrame(
        [(0, ts, i) for i, ts in enumerate(seq)], "key long, ts long, arr long"
    )
    out = kslack_reorder(df, ["key"], "ts", "arr").collect()
    emitted = [r.ts for r in sorted(out, key=lambda r: r.emit_seq)]
    # emission order is the contract; tuples behind the horizon never appear
    assert emitted == sorted(emitted)
    assert 11 not in emitted  # both 11s arrived behind the released horizon
    # with K grown past the observed disorder, later stragglers survive
    assert 55 in emitted and 85 in emitted


def test_connected_components_nonconvergence_guard(spark):
    """A path graph with diameter > max_iter must not return silently wrong
    labels: strict mode raises, best-effort mode warns (VERDICT r1 item 9).
    With enough iterations the same graph converges to one component."""
    import warnings

    import pytest

    from windflow_spark.functions.dedup import connected_components

    n = 12  # path 0-1-...-12: min-label needs ~n hops to reach the far end
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(edges, max_iter=3, strict=False)
        out.collect()
        assert any("did not converge" in str(x.message) for x in w)
    done = connected_components(edges, max_iter=n + 2)
    assert {r.component for r in done.collect()} == {0}


def test_runtime_context_in_udf(spark):
    import pandas as pd

    from windflow_spark.core.context import RuntimeContext, replica_index

    df = spark.range(0, 100, 1, 4)

    def tag(batches):
        ctx = RuntimeContext.current()
        counts = ctx.storage.get("counts", int)
        for pdf in batches:
            counts += len(pdf)
            yield pd.DataFrame({"id": pdf["id"], "replica": ctx.replica})

    out = df.mapInPandas(tag, "id long, replica int").collect()
    assert len(out) == 100
    assert {r.replica for r in out} == {0, 1, 2, 3}

    via_col = df.select(replica_index().alias("p")).distinct().count()
    assert via_col == 4


def test_asof_join_backward_edge_cases(spark):
    from windflow_spark.operators.asof_join import asof_join_backward

    a = spark.createDataFrame(
        [(1, 10, "a1"), (1, 20, "a2"), (1, 5, "a0"), (2, 10, "a3"), (3, 10, "a4")],
        "key long, ts long, tag string",
    )
    # key 1: b at 7 (v=null!), 10, 15; key 2: none; key 3: only after a's ts
    b = spark.createDataFrame(
        [(1, 7, 100, None), (1, 10, 101, 7.5), (1, 15, 102, 9.0), (3, 99, 103, 1.0)],
        "key long, ts long, bid long, v double",
    )
    out = {
        r.tag: (r.b_bid, r.b_v)
        for r in asof_join_backward(a, b, ["key"], "ts", "ts", ["bid", "v"]).collect()
    }
    assert out["a0"] == (None, None)          # nothing at or before 5
    assert out["a1"] == (101, 7.5)            # inclusive: b at exactly 10 wins
    assert out["a2"] == (102, 9.0)
    assert out["a3"] == (None, None)          # key with no b rows
    assert out["a4"] == (None, None)          # b only in the future
    # the atomic struct fill must NOT stitch b(7).bid with b(10).v —
    # matching at ts>=7,<10 yields the null v of bid=100
    a2 = spark.createDataFrame([(1, 8, "x")], "key long, ts long, tag string")
    out2 = asof_join_backward(a2, b, ["key"], "ts", "ts", ["bid", "v"]).collect()[0]
    assert (out2.b_bid, out2.b_v) == (100, None)

    inner = asof_join_backward(a, b, ["key"], "ts", "ts", ["bid", "v"], how="inner")
    assert {r.tag for r in inner.collect()} == {"a1", "a2"}

    # invalid how must raise, not silently behave as left (r7 ADVICE)
    import pytest as _pytest

    from windflow_spark.operators.asof_join import asof_join_forward

    for fn in (asof_join_backward, asof_join_forward):
        with _pytest.raises(ValueError, match="how"):
            fn(a, b, ["key"], "ts", "ts", ["bid", "v"], how="leftt")


def test_asof_join_nearest_edge_cases(spark):
    """Nearest-direction as-of: closest b in EITHER direction, tolerance
    bound inclusive, equal-distance ties to the EARLIER b, inner drops
    only out-of-tolerance/absent matches (a matched row with null payload
    survives — the backward 'inner' lesson)."""
    import pytest as _pytest

    from windflow_spark.operators.asof_join import asof_join_nearest

    a = spark.createDataFrame(
        [
            (1, 10, "mid"),      # b at 7 (d=3) and 12 (d=2) -> forward wins
            (1, 95, "tie"),      # b at 90 and 100, both d=5 -> backward wins
            (1, 50, "far"),      # nearest b is 12 (d=38) -> out of tolerance
            (2, 10, "nob"),      # key with no b rows at all
            (1, 7, "exact"),     # b exactly at 7 -> distance 0, backward
        ],
        "key long, ts long, tag string",
    )
    b = spark.createDataFrame(
        [(1, 7, 100, 1.0), (1, 12, 101, None), (1, 90, 102, 3.0), (1, 100, 103, 4.0)],
        "key long, ts long, bid long, v double",
    )
    out = {
        r.tag: (r.b_bid, r.b_v)
        for r in asof_join_nearest(
            a, b, ["key"], "ts", "ts", ["bid", "v"], tolerance=10
        ).collect()
    }
    assert out["mid"] == (101, None)   # forward nearer AND null payload rides
    assert out["tie"] == (102, 3.0)    # equal distance -> earlier (backward)
    assert out["far"] == (None, None)  # both directions beyond tolerance
    assert out["nob"] == (None, None)
    assert out["exact"] == (100, 1.0)

    # tolerance boundary is INCLUSIVE: distance == tolerance matches
    edge = asof_join_nearest(
        spark.createDataFrame([(1, 2, "e")], "key long, ts long, tag string"),
        b, ["key"], "ts", "ts", ["bid"], tolerance=5,
    ).collect()[0]
    assert edge.b_bid == 100  # b at 7, distance exactly 5

    # inner keeps the null-payload match (tolerance flags, not payload nulls)
    inner = asof_join_nearest(
        a, b, ["key"], "ts", "ts", ["v"], tolerance=10, how="inner"
    )
    assert {r.tag for r in inner.collect()} == {"mid", "tie", "exact"}

    # no tolerance: everything with any b matches
    free = asof_join_nearest(a, b, ["key"], "ts", "ts", ["bid"]).collect()
    assert {r.tag: r.b_bid for r in free}["far"] == 101

    with _pytest.raises(ValueError, match="how"):
        asof_join_nearest(a, b, ["key"], "ts", "ts", ["bid"], how="outer")


def test_connected_components_clusters(spark):
    from windflow_spark.functions.dedup import connected_components

    # components: {1,2,3,4} (path), {10,11}, {20,21,22} (triangle+tail)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_segments_survivor_and_reassembly(spark):
    # doc 1 owns both its segments; doc 2 repeats doc 1's first segment
    # (dropped) but keeps its own tail; doc 3 is entirely doc 1's content
    # and must drop out of the corpus
    import datetime as _dt

    from windflow_spark.functions.dedup import dedup_segments

    a = "w1 w2 w3 w4"          # one 4-token segment
    b = "x1 x2 x3 x4"
    docs = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{a} y1 y2 y3 y4"), (3, a)],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.clean_text, r.n_kept)
           for r in dedup_segments(docs, seg_tokens=4).collect()}
    assert out == {1: (f"{a} {b}", 2), 2: ("y1 y2 y3 y4", 1)}  # doc 3 gone


def test_rolling_zscore_gating_and_value(spark):
    # 25 hourly buckets, counts alternating 1,2: bucket 24's trailing-24
    # sample has mean 1.5, sd_samp sqrt(6/23) -> z = -0.5/sd = -0.98;
    # buckets below min_periods=12 trailing obs must score NULL
    import datetime as _dt

    from windflow_spark.operators.timeseries import rolling_zscore

    base = _dt.datetime(2024, 1, 1)
    rows = []
    for h in range(25):
        for j in range(h % 2 + 1):  # 1 event on even hours, 2 on odd
            rows.append((7, base + _dt.timedelta(hours=h, minutes=j), 1.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = rolling_zscore(df, ["user_id"], "ts", "value",
                         bucket_us=3_600_000_000, lookback=24, min_periods=12)
    got = {
        int((r.bucket_start.replace(tzinfo=None) - base).total_seconds() // 3600):
            r.zscore
        for r in out.collect()
    }
    assert got[24] == -0.98
    assert all(got[h] is None for h in range(12))  # too few trailing obs
    assert got[13] is not None  # 13 trailing obs >= min_periods


def test_ivf_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    # the second probe can only ADD candidate lists, so multi-probe top-k
    # recall vs brute force must be >= the single-probe path's recall
    from windflow_spark.queries import (
        sim_topk_bruteforce,
        sim_topk_ivf,
        sim_topk_ivf_multiprobe,
    )

    bf = {(r.query_id, r.vec_id) for r in
          sim_topk_bruteforce(spark, sf_dir).collect()}
    sp = {(r.query_id, r.vec_id) for r in sim_topk_ivf(spark, sf_dir).collect()}
    mp = {(r.query_id, r.vec_id) for r in
          sim_topk_ivf_multiprobe(spark, sf_dir).collect()}
    assert len(bf & mp) >= len(bf & sp)


def test_connected_components_reliable_checkpoint(spark, tmp_path_factory):
    # reliable=True swaps localCheckpoint (executor-local, lost on executor
    # failure) for reliable checkpoints on the configured checkpoint dir —
    # results must be identical
    from windflow_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    expect = sorted(
        map(tuple, connected_components(edges).collect())
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path_factory.mktemp("cc_ckpt")))
    got = sorted(
        map(tuple, connected_components(edges, reliable=True).collect())
    )
    assert got == expect
    assert {c for _, c in got} == {1, 10, 20}


def test_text_ops_null_and_empty_safe(spark):
    # user frames carry nulls the driver tables never do — text/dedup ops
    # must drop or pass through null/empty text, not crash
    from windflow_spark.functions.dedup import dedup_segments, shingle_sets
    from windflow_spark.functions.text import with_text_stats

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real words here")],
        "doc_id long, text string",
    )
    segs = dedup_segments(df)
    assert [r.doc_id for r in segs.collect()] == [4]
    sh = shingle_sets(df)
    assert [r.doc_id for r in sh.collect()] == [4]
    stats = with_text_stats(df.filter(F.col("text").isNotNull()))
    assert stats.count() == 3


def test_kmeans_codebook_recovers_separated_clusters(spark):
    # three well-separated axis clusters; 2 Lloyd iterations from the
    # deterministic first-k init must recover exact memberships, and the
    # result must be invariant to input partitioning (6dp-rounded codebook,
    # tie-broken assignment)
    from windflow_spark.functions.similarity import (
        _assign_nearest_list,
        kmeans_codebook,
    )

    def vec(axis, eps):
        v = [0.0] * 6
        v[axis] = 1.0
        v[(axis + 1) % 6] = eps
        return v

    rows = [(i, vec(i % 3, 0.01 * (i // 3))) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expect = None
    for parts in (1, 7):
        d = df.repartition(parts)
        cb = kmeans_codebook(d, n_lists=3, iters=2)
        got = {
            r.vec_id: r["_bkt"]
            for r in _assign_nearest_list(d, cb, "vec_id").collect()
        }
        # same-axis vectors land in the same learned list
        by_axis = {}
        for vid, bkt in got.items():
            by_axis.setdefault(vid % 3, set()).add(bkt)
        assert all(len(s) == 1 for s in by_axis.values()), by_axis
        assert len({next(iter(s)) for s in by_axis.values()}) == 3
        expect = expect or got
        assert got == expect  # partition-invariant


def test_funnel_ordering_constraint(spark):
    # user 1 completes signup->view in order; user 2 has the view BEFORE
    # signup (must NOT convert); user 3 only signs up
    from windflow_spark.operators.behavior import funnel_stages

    rows = [
        (1, "signup", 100), (1, "view", 200),
        (2, "view", 100), (2, "signup", 200),
        (3, "signup", 100),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, us long")
    out = {r.stage: (r.n_users, r.pct_of_first)
           for r in funnel_stages(df, ["signup", "view"], us_col=F.col("us")).collect()}
    assert out == {"signup": (3, 1.0), "view": (1, round(1 / 3, 6))}


def test_cohort_retention_offsets(spark):
    from windflow_spark.operators.behavior import cohort_retention

    # bucket = 10us: user 1 first in bucket 0, returns in 2; user 2 first
    # in bucket 1 only; user 3 first in 0, active 0 and 1
    rows = [(1, 5), (1, 25), (2, 15), (3, 1), (3, 12), (3, 13)]
    df = spark.createDataFrame(rows, "user_id long, us long")
    out = {(r.cohort_bucket, r.bucket_offset): r.n_users
           for r in cohort_retention(df, 10, us_col=F.col("us")).collect()}
    assert out == {(0, 0): 2, (0, 2): 1, (0, 1): 1, (1, 0): 1}


def test_funnel_matches_python_model_random(spark):
    # independent python model over random event streams: first-touch
    # chain = walk events in ts order, advance on the next stage's first
    # qualifying event
    import random

    from windflow_spark.operators.behavior import funnel_stages

    STAGES = ["s0", "s1", "s2"]
    rng = random.Random(23)
    rows = []
    for u in range(60):
        t = 0
        for _ in range(rng.randint(0, 12)):
            t += rng.randint(1, 9)
            rows.append((u, rng.choice(STAGES + ["x", "y"]), t))
    if not rows:
        rows = [(0, "s0", 1)]
    reached = {}
    by_user = {}
    for u, ty, t in sorted(rows, key=lambda r: (r[0], r[2])):
        by_user.setdefault(u, []).append((ty, t))
    for u, evs in by_user.items():
        k, t_last = -1, -1
        for ty, t in evs:
            if k + 1 < len(STAGES) and ty == STAGES[k + 1] and (k < 0 or t > t_last):
                k, t_last = k + 1, t
        reached[u] = k
    expect = {
        (i, s): sum(1 for k in reached.values() if k >= i)
        for i, s in enumerate(STAGES)
    }
    df = spark.createDataFrame(rows, "user_id long, event_type string, us long")
    got = {
        (r.stage_idx, r.stage): r.n_users
        for r in funnel_stages(df, STAGES, us_col=F.col("us")).collect()
    }
    assert got == expect


def test_train_codebook_memoizes_per_key(spark):
    # r5 VERDICT #1: a shared quantizer must train ONCE. With a cache_key,
    # the trained rows are memoized — a second call with the SAME key but a
    # different corpus returns the first training's codebook (the cache
    # trusts the key, the documented FAISS-handle contract); a distinct key
    # retrains.
    from windflow_spark.functions.similarity import (
        _CODEBOOK_CACHE,
        train_codebook,
    )

    def corpus(shift):
        rows = [
            (i, [1.0 if d == (i + shift) % 3 else 0.0 for d in range(4)])
            for i in range(12)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    k1 = ("test-memo-a",)
    k2 = ("test-memo-b",)
    try:
        cb1 = sorted(map(tuple, train_codebook(corpus(0), k1, n_lists=3).collect()))
        assert any(k[0] == k1 for k in _CODEBOOK_CACHE)
        cb_hit = sorted(map(tuple, train_codebook(corpus(1), k1, n_lists=3).collect()))
        assert cb_hit == cb1  # cache hit: second corpus ignored
        cb2 = sorted(map(tuple, train_codebook(corpus(1), k2, n_lists=3).collect()))
        assert cb2 != cb1     # distinct key: retrained on the shifted corpus
    finally:
        for k in [k for k in _CODEBOOK_CACHE if k[0] in (k1, k2)]:
            del _CODEBOOK_CACHE[k]


def test_scd2_intervals_collapse_and_chain(spark):
    # versions collapse consecutive unchanged attrs; intervals chain
    # (valid_to of version k == valid_from of k+1); open-ended current row
    from windflow_spark.operators.timeseries import scd2_intervals

    rows = [
        (1, 10, "A"), (1, 20, "A"), (1, 30, "B"), (1, 40, "B"), (1, 50, "A"),
        (2, 10, "X"),
        (3, 10, None), (3, 20, "Y"), (3, 30, None),  # null <-> value changes
    ]
    df = spark.createDataFrame(rows, "k long, t long, st string")
    got = {
        (r.k, r.version_seq): (r.st, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_intervals(df, ["k"], "t", ["st"], ["t"]).collect()
    }
    assert got == {
        (1, 1): ("A", 10, 30, False),
        (1, 2): ("B", 30, 50, False),
        (1, 3): ("A", 50, None, True),
        (2, 1): ("X", 10, None, True),
        (3, 1): (None, 10, 20, False),
        (3, 2): ("Y", 20, 30, False),
        (3, 3): (None, 30, None, True),
    }


def test_resample_ohlc_tie_breaks(spark):
    # open/close pick the value at the earliest/latest ts; equal-ts ties
    # resolve to min/max value respectively (struct ordering) — the
    # deterministic contract first()/last() cannot give
    import datetime as dt

    from windflow_spark.operators.timeseries import resample_ohlc

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("a", base, 5.0), ("a", base, 3.0),                       # open tie -> 3
        ("a", base + dt.timedelta(minutes=30), 9.0),
        ("a", base + dt.timedelta(minutes=59), 2.0),
        ("a", base + dt.timedelta(minutes=59), 7.0),              # close tie -> 7
        ("a", base + dt.timedelta(hours=2), 4.0),                 # next bar
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    got = {
        (r.k, r.bucket_start): (r.open, r.high, r.low, r.close, r.cnt)
        for r in resample_ohlc(df, ["k"], "ts", "value", 3_600_000_000).collect()
    }
    assert got == {
        ("a", base): (3.0, 9.0, 2.0, 7.0, 5),
        ("a", base + dt.timedelta(hours=2)): (4.0, 4.0, 4.0, 4.0, 1),
    }


def test_trending_counts_growth_rules(spark):
    # growth NULL on a key's first bucket; ratio otherwise; buckets with
    # zero activity simply don't exist (no spine) so lag skips them
    from windflow_spark.operators.behavior import trending_counts

    rows = [(k, t) for k, ts in [("x", [0, 1, 10, 11, 12, 20]), ("y", [10])]
            for t in ts]
    df = spark.createDataFrame(rows, "k string, us long")
    got = {
        (r.key, r.bucket): (r.cnt, r.prev_cnt, r.growth)
        for r in trending_counts(df, "k", 10, us_col=F.col("us")).collect()
    }
    assert got == {
        ("x", 0): (2, None, None),
        ("x", 10): (3, 2, 1.5),
        ("x", 20): (1, 3, round(1 / 3, 6)),
        ("y", 10): (1, None, None),
    }


def test_token_kl_python_mirror(spark):
    # exact python mirror of the KL formula on a small corpus; a group
    # identical to the corpus mix has KL ~ 0, a skewed one is positive
    import math

    from windflow_spark.functions.pipeline import token_kl_by_group

    docs = [
        (1, "a a b", "s1"), (2, "a b b", "s1"),   # s1: balanced-ish
        (3, "z z z z", "s2"), (4, "z a", "s2"),   # s2: z-heavy
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    from collections import Counter

    gt: dict[tuple[str, str], int] = Counter()
    for _, t, s in docs:
        for w in t.split():
            gt[(s, w)] += 1
    ct = Counter()
    for (s, w), c in gt.items():
        ct[w] += c
    n = sum(ct.values())
    expect = {}
    for s in ("s1", "s2"):
        gn = sum(c for (g, _), c in gt.items() if g == s)
        kl = sum(
            (c / gn) * math.log((c / gn) / (ct[w] / n))
            for (g, w), c in gt.items()
            if g == s
        )
        expect[s] = (gn, round(kl, 6))
    got = {
        r.source: (r.n_tokens, r.kl)
        for r in token_kl_by_group(df, "source", "text").collect()
    }
    assert got == expect
    assert got["s1"][1] > 0 and got["s2"][1] > 0  # both diverge from the mix


def test_fuzzy_pairs_blocked_residual_and_blocking(spark):
    from windflow_spark.functions.dedup import fuzzy_pairs_blocked

    rows = [
        (1, "B1", "smith"), (2, "B1", "smyth"), (3, "B1", "jones"),
        (4, "B2", "smith"),  # same name, different block: never paired
        (5, "B2", "smiths"),
    ]
    df = spark.createDataFrame(rows, "id long, blk string, nm string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_pairs_blocked(df, "id", "nm", ["blk"], max_dist=2).collect()
    )
    assert got == [(1, 2, 1), (4, 5, 1)]


def test_ivf_index_save_probe_matches_inline(spark, tmp_path_factory):
    # the persisted FAISS-style index (train once, probe forever) must
    # return the EXACT inline ivf_topk_kmeans results for the same params
    from windflow_spark.functions.similarity import (
        ivf_topk_from_index,
        ivf_topk_kmeans,
        save_ivf_index,
    )

    rows = [
        (i, [1.0 if d == i % 4 else 0.05 * ((i * 7 + d) % 5) for d in range(6)])
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inline = sorted(
        map(tuple, ivf_topk_kmeans(corpus, queries, k=3, n_lists=4, nprobe=2).collect())
    )
    path = str(tmp_path_factory.mktemp("ivf_idx"))
    save_ivf_index(corpus, path, n_lists=4)
    stored = sorted(
        map(tuple, ivf_topk_from_index(spark, path, queries, k=3, nprobe=2).collect())
    )
    assert stored == inline and len(inline) > 0


def test_ewma_smooth_matches_python_model(spark):
    # sequential left-to-right recurrence: bit-exact vs the python fold
    rows = [
        ("a", i * 86_400_000_000, None) for i in (0, 1, 2, 5)  # gap at 3,4
    ] + [("b", 0, None), ("b", 86_400_000_000, None)]
    # two events in a's bucket 1 to vary counts
    rows.append(("a", 86_400_000_000 + 5, None))
    df = spark.createDataFrame(
        [(k, ts) for k, ts, _ in rows], "k string, us long"
    ).select("k", F.timestamp_micros("us").alias("ts"))
    from windflow_spark.operators.timeseries import ewma_smooth

    out = {
        (r.k, r.bucket_start.day - 1): (r.cnt, r.ewma)
        for r in ewma_smooth(df, ["k"], "ts", alpha=0.25).collect()
    }
    series = {"a": [(0, 1), (1, 2), (2, 1), (5, 1)], "b": [(0, 1), (1, 1)]}
    for k, pts in series.items():
        e = None
        for b, c in pts:
            e = float(c) if e is None else 0.25 * c + 0.75 * e
            assert out[(k, b)] == (c, round(e, 6)), (k, b)


def test_mad_anomaly_flags_spike(spark):
    # 9 quiet days (1 event) + one 50-event spike: med=1, mad=0? no —
    # abs devs are [0]*9+[49] -> mad 0. Use varied base so MAD > 0.
    counts = [4, 5, 4, 6, 5, 4, 6, 5, 50]
    rows = []
    for day, c in enumerate(counts):
        rows += [(day * 86_400_000_000 + i) for i in range(c)]
    df = spark.createDataFrame([(u,) for u in rows], "us long").select(
        F.lit("k").alias("k"), F.timestamp_micros("us").alias("ts")
    )
    from windflow_spark.operators.timeseries import mad_anomaly

    out = {
        r.bucket_start.day - 1: (r.cnt, r.med, r.mad, r.mod_z, r.is_anomaly)
        for r in mad_anomaly(df, ["k"], "ts").collect()
    }
    import statistics

    med = statistics.median(counts)
    mad = statistics.median([abs(c - med) for c in counts])
    for day, c in enumerate(counts):
        mz = round(0.6745 * (c - med) / mad, 6)
        assert out[day] == (c, med, mad, mz, abs(mz) > 3.5), day
    assert out[8][4] is True and not any(out[d][4] for d in range(8))


def test_mad_anomaly_zero_mad_yields_null_not_flag(spark):
    rows = [(d * 86_400_000_000,) for d in range(5)] + [(5 * 86_400_000_000 + i,) for i in range(9)]
    df = spark.createDataFrame(rows, "us long").select(
        F.lit("k").alias("k"), F.timestamp_micros("us").alias("ts")
    )
    from windflow_spark.operators.timeseries import mad_anomaly

    out = {r.bucket_start.day - 1: r for r in mad_anomaly(df, ["k"], "ts").collect()}
    assert out[5].mad == 0.0
    assert out[5].mod_z is None and out[5].is_anomaly is False


def test_pagerank_matches_python_model(spark):
    # small undirected star + chain; 2 unrolled iterations by hand
    und = [(1, 2), (1, 3), (1, 4), (4, 5)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    from windflow_spark.operators.graph import pagerank

    got = {r.node: r.pr for r in pagerank(df, iters=2, damping=0.85).collect()}

    outdeg, inc = {}, {}
    for s, d in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
        inc.setdefault(d, []).append(s)
    nodes = sorted(outdeg)
    r = {n: 1.0 for n in nodes}
    for _ in range(2):
        r = {
            n: (1.0 - 0.85) + 0.85 * sum(r[s] / outdeg[s] for s in inc.get(n, []))
            for n in nodes
        }
    assert got == {n: round(v, 6) for n, v in r.items()}
    assert got[1] > got[4] > got[2]  # hub > bridge > leaf


def test_pagerank_dangling_node_gets_base_mass(spark):
    # directed: 1 -> 2; node 2 has no outgoing edges, node 1 no incoming
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    from windflow_spark.operators.graph import pagerank

    got = {r.node: r.pr for r in pagerank(df, iters=1, damping=0.85).collect()}
    assert got[1] == round(1.0 - 0.85, 6)          # no in-edges: base only
    assert got[2] == round((1.0 - 0.85) + 0.85 * 1.0, 6)


def test_capped_baskets_partitioning_shared_downstream(spark, sf_dir):
    """capped_baskets establishes hash(ck) once; a downstream ck-keyed
    aggregation must introduce NO additional keyed exchange (the subset
    clustering rule the recsys queries rely on)."""
    from windflow_spark.operators.recsys import capped_baskets
    from windflow_spark.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    b = capped_baskets(li, o, basket_cap=10)
    base = keyed_shuffle_count(b)
    agged = b.groupBy("ck").agg(F.count(F.lit(1)).alias("n"))
    assert keyed_shuffle_count(agged) == base, (
        "groupBy(ck) after capped_baskets must reuse the internal hash(ck)"
        " exchange, not add one"
    )


def test_itemitem_topk_no_window_roundtrip(spark, sf_dir):
    """Per-item counts attach via a broadcast join, not a partitionBy(pk)
    window — the model plan must contain a broadcast join and no Window
    over pk (only the final per-item rank window remains)."""
    from windflow_spark.operators.recsys import capped_baskets, itemitem_topk
    from windflow_spark.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    model = itemitem_topk(capped_baskets(li, o, basket_cap=10))
    plan = physical_plan(model)
    assert "BroadcastHashJoin" in plan
    # no pk-partitioned window remains (the old per-item count window);
    # the surviving windows partition by ck (recency cap) and item_a
    # (final rank) only
    assert "windowspecdefinition(pk#" not in plan


def test_exact_jaccard_prefix_checkpoints_shingle_frame(spark, sf_dir):
    """The prefix audit's plan reads materialized RDDs (shingle + prefix
    frames), so the tokenize/shingle chain cannot re-run per consumer."""
    from windflow_spark.functions.dedup import exact_jaccard_pairs_prefix
    from windflow_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    pairs = exact_jaccard_pairs_prefix(docs, 4, 5)
    assert physical_plan(pairs).count("Scan ExistingRDD") >= 2


def test_knn_graph_lsh_bucket_cap_slice_equivalence(spark):
    """slice(array_sort(collect_list(id)), 1, cap) keeps the same id set
    as row_number() over (partition by bucket order by id) <= cap — the
    truncation identity knn_graph_lsh's grouped buckets rely on."""
    from pyspark.sql import Window as W

    rows = [(b, i) for b in range(3) for i in range(7, -1, -1)]
    df = spark.createDataFrame(rows, "bkt int, vec_id long")
    cap = 5
    grouped = df.groupBy("bkt").agg(
        F.slice(F.array_sort(F.collect_list("vec_id")), 1, cap).alias("ids")
    )
    got = {
        (r["bkt"], i) for r in grouped.collect() for i in r["ids"]
    }
    w = W.partitionBy("bkt").orderBy("vec_id")
    ranked = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("bkt", "vec_id")
    )
    want = {(r["bkt"], r["vec_id"]) for r in ranked.collect()}
    assert got == want
