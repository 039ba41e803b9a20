"""Training-data operator tests: dedup (exact/minhash-LSH/simhash/jaccard),
similarity search (brute-force + LSH ANN recall), text analysis, multimodal
plumbing."""

import pytest
from pyspark.sql import functions as F

from mysql_log_parser_spark.textops import multimodal
from mysql_log_parser_spark.textops.dedup import (
    exact_duplicates,
    minhash_dedup_pairs,
    ngram_jaccard_pairs_bruteforce,
    simhash_buckets,
)
from mysql_log_parser_spark.textops.quality import with_text_stats
from mysql_log_parser_spark.textops.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    near_dup_pairs_cosine,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # inject exact dupes and near dupes deterministically
    exact = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = base.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail words")).alias("text"),
        "lang", "source", "n_chars",
    )
    return base.unionByName(exact).unionByName(near).persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def test_exact_dedup(spark, docs):
    base_n = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") % 10 == 0
    ).count()
    groups = exact_duplicates(docs).collect()
    assert len(groups) == base_n
    assert all(g.dup_count == 2 for g in groups)
    assert all(g.keep_id < 10000 for g in groups)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = minhash_dedup_pairs(docs, threshold=0.6, num_hashes=16, bands=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # every exact dupe pair must be found (jaccard 1.0, identical signatures)
    expect_exact = {
        (r.doc_id, r.doc_id + 10000)
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") % 10 == 0).select("doc_id").collect()
    }
    assert expect_exact <= got
    # and near-dup pairs (long shared prefix) should mostly be found
    expect_near = {
        (r.doc_id, r.doc_id + 20000)
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") % 10 == 1).select("doc_id").collect()
    }
    found = len(expect_near & got) / max(len(expect_near), 1)
    assert found >= 0.8, f"near-dup recall {found}"


def test_lsh_agrees_with_bruteforce_on_high_threshold(spark, docs):
    small = docs.limit(60)
    bf = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs_bruteforce(small, threshold=0.9).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(small, threshold=0.9, num_hashes=16, bands=8).collect()
    }
    assert lsh <= bf  # LSH verified pairs are a subset of brute force
    assert len(bf - lsh) == 0 or len(bf & lsh) / len(bf) >= 0.9


def test_simhash_buckets_exact_dups(spark, docs):
    b = simhash_buckets(docs)
    # identical texts share the simhash key, so every exact-dup pair buckets
    ids = {tuple(r.ids) for r in b.collect()}
    flat = {i for t in ids for i in t}
    some_dup = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") % 10 == 0
    ).first().doc_id
    assert some_dup in flat and some_dup + 10000 in flat


def test_ann_bruteforce_sane(spark, emb):
    q = emb.where(F.col("vec_id") < 4)
    topk = cosine_topk_bruteforce(emb, q, k=3).collect()
    assert len(topk) == 4 * 3
    by_q = {}
    for r in topk:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        coss = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert coss == sorted(coss, reverse=True)
        assert all(-1.0001 <= c <= 1.0001 for c in coss)


def test_ann_lsh_recall(spark, emb):
    q = emb.where(F.col("vec_id") < 8)
    exact = cosine_topk_bruteforce(emb, q, k=5).collect()
    approx = cosine_topk_lsh(emb, q, dim=64, k=5, n_planes=4, n_tables=6).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"multi-table LSH recall {recall} too low"


def test_embed_near_dup_pairs(spark, emb):
    dup = emb.where(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    pairs = near_dup_pairs_cosine(corpus, threshold=0.999, dim=64).collect()
    expect = {(r.vec_id, r.vec_id + 5000) for r in emb.where(F.col("vec_id") % 13 == 0).collect()}
    got = {(r.id_a, r.id_b) for r in pairs}
    assert expect <= got


def test_text_stats(spark, docs):
    st = with_text_stats(docs.limit(50))
    rows = st.collect()
    for r in rows:
        assert r.n_words > 0 and r.ws_tokens == r.n_words
        assert 0 <= r.stopword_ratio <= 1
        assert 0 <= r.quality <= 1
        assert r.bpe_tokens >= r.n_words
        assert r.fingerprint64 >= 0
    # fingerprints of identical texts agree; distinct texts (almost surely) differ
    a = st.first()
    assert a is not None


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, n=24)
    feats = multimodal.extract_features(media, decoder="fake", dim=8)
    rows = feats.collect()
    assert len(rows) == 24
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: same bytes -> same features
    again = {r.id: r.feature for r in multimodal.extract_features(media).collect()}
    assert all(again[r.id] == r.feature for r in rows)
    # real decoders are stubbed with a clear error
    with pytest.raises(Exception, match="NotImplementedError|not installed"):
        multimodal.extract_features(media, decoder="pil").collect()
    # frame sampling expands video rows JVM-side
    fs = multimodal.frame_sample(media, every_n=30).collect()
    assert len(fs) > 0 and all(r.frame_idx % 30 == 0 for r in fs)


def test_pack_sequences_roundtrip(spark):
    """Concatenating the packed sequences must reproduce each source's
    token stream exactly (order, content, and length)."""
    from pyspark.sql import functions as F

    from mysql_log_parser_spark.textops.sampling import pack_sequences

    rows = [
        (i, f"s{i % 2}", list(range(i * 10, i * 10 + 7 + i)))  # varied lengths
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, tokens array<int>")
    seqs = pack_sequences(docs, max_len=16).collect()

    got = {}
    for r in sorted(seqs, key=lambda r: (r.source, r.seq_id)):
        got.setdefault(r.source, []).extend(r.tokens)
        assert r.n_tok == len(r.tokens)
        assert r.n_tok <= 16
    want = {}
    for i, src, toks in rows:
        want.setdefault(src, []).extend(toks)
    assert got == want


def test_repetition_features_edges(spark):
    from mysql_log_parser_spark.textops.quality import with_repetition

    df = spark.createDataFrame(
        [
            (0, "a a a a"),              # one word repeated 4x
            (1, "x y x y x y"),          # bigram "x y" 3x of 5 bigrams
            (2, "all distinct words here"),
            (3, "solo"),                 # single word: no bigrams
            (4, "   "),                  # whitespace only: no words
        ],
        "doc_id long, text string",
    )
    r = {row["doc_id"]: row for row in with_repetition(df).collect()}
    assert r[0]["max_word_freq"] == 4 and r[0]["word_rep_permille"] == 1000
    assert r[0]["max_bigram_freq"] == 3  # "a a" 3x
    assert r[1]["max_bigram_freq"] == 3 and r[1]["bigram_rep_permille"] == 600
    assert r[2]["max_word_freq"] == 1 and r[2]["distinct_word_permille"] == 1000
    assert r[3]["n_words"] == 1 and r[3]["max_bigram_freq"] == 0
    assert r[4]["n_words"] == 0 and r[4]["word_rep_permille"] == 0


def test_pii_redaction(spark):
    from mysql_log_parser_spark.textops.pii import with_pii_redaction

    df = spark.createDataFrame(
        [
            (0, "mail me at a.b+c@ex-site.org or x@y.io"),
            (1, "call 555-123-4567 now"),
            (2, "clean text"),
            (3, "both bob@corp.com and 111-222-3333"),
            (4, "not a phone 55-123-4567 or 5555-123-4567x"),
        ],
        "doc_id long, text string",
    )
    r = {row["doc_id"]: row for row in with_pii_redaction(df).collect()}
    assert r[0]["n_emails"] == 2 and r[0]["redacted"] == "mail me at <EMAIL> or <EMAIL>"
    assert r[1]["n_phones"] == 1 and r[1]["redacted"] == "call <PHONE> now"
    assert r[2]["pii_clean"] and r[2]["redacted"] == "clean text"
    assert r[3]["redacted"] == "both <EMAIL> and <PHONE>"
    # \b guards: digit runs that aren't exactly 3-3-4 at word boundaries stay
    assert r[4]["n_phones"] == 0 and not r[4]["redacted"].count("<PHONE>")


def test_decontamination(spark):
    from mysql_log_parser_spark.textops.decontam import (
        contamination_hits,
        probe_ngrams,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "a clean doc with no benchmark overlap at all"),
            (2, "prefix words then the quick brown fox jumps verbatim"),
            (3, "short doc"),  # < n words: no grams, never contaminated
        ],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") == 0)
    r = {
        row["doc_id"]: row
        for row in contamination_hits(docs, probe_ngrams(bench, n=5), n=5).collect()
    }
    assert len(r) == 4  # zero-hit docs preserved by the left join
    assert r[0]["contaminated"]  # benchmark doc flags itself
    assert r[2]["contaminated"] and r[2]["n_probe_hits"] == 1  # "the quick brown fox jumps"
    assert not r[1]["contaminated"] and r[1]["n_probe_hits"] == 0
    assert not r[3]["contaminated"]


def test_components_from_pairs(spark):
    from mysql_log_parser_spark.textops.dedup import components_from_pairs

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # chain 0-1-2 (diameter 2), pair 5-6, singletons 3,4,7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    r = {row["doc_id"]: row for row in components_from_pairs(pairs, ids).collect()}
    assert [r[i]["component"] for i in range(8)] == [0, 0, 0, 3, 4, 5, 5, 7]
    assert [r[i]["keep"] for i in range(8)] == [
        True, False, False, True, True, True, False, True,
    ]


def test_upsample_weights(spark):
    from mysql_log_parser_spark.textops.sampling import upsample

    d = spark.createDataFrame(
        [(i, "a" if i < 200 else "b") for i in range(400)],
        "doc_id long, source string",
    )
    up = upsample(d, {"a": 3.0, "b": 0.0})
    # integer weight 3.0: exactly 3 copies of every 'a' doc, 'b' vanishes
    assert up.count() == 600
    assert up.where("source = 'b'").count() == 0
    assert up.groupBy("doc_id").count().where("count != 3").count() == 0

    frac = upsample(d.where("source = 'a'"), {"a": 1.5})
    n = frac.count()
    # 1.5: every doc 1-2 copies, expectation 300; deterministic per id
    assert 200 <= n <= 400
    assert n == upsample(d.where("source = 'a'"), {"a": 1.5}).count()


def test_take_token_budget(spark):
    from mysql_log_parser_spark.textops.sampling import take_token_budget

    d = spark.createDataFrame(
        [(i, "s", 100, 1000 - i) for i in range(10)],
        "doc_id long, source string, n_tok long, quality long",
    )
    kept = take_token_budget(d, 350, priority_col="quality").collect()
    # highest-quality first (doc 0,1,2), stop when the next doc would burst
    assert sorted(r["doc_id"] for r in kept) == [0, 1, 2]
    assert max(r["cum_tok"] for r in kept) == 300


def _emb_double(emb):
    return emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def test_semantic_dedup_cell_cap_raises_loudly(spark, emb):
    """Oversized cells must FAIL with the cell id/size, never silently run a
    quadratic per-cell join — the scale contract of semantic_dedup_pairs."""
    from mysql_log_parser_spark.entry_queries_ext import _centroid_literals
    from mysql_log_parser_spark.textops.dedup import semantic_dedup_pairs

    pairs = semantic_dedup_pairs(
        _emb_double(emb), _centroid_literals(4), cell_cap=3
    )
    with pytest.raises(Exception, match="cell_cap"):
        pairs.count()


def test_semantic_dedup_respects_cap_and_finds_exact_dups(spark, emb):
    """At the gate parameters (k=32) every cell stays under the cap, the
    guard passes, and injected identical vectors come out keep=False."""
    from mysql_log_parser_spark.entry_queries_ext import _SD_CAP, _SD_K, _centroid_literals
    from mysql_log_parser_spark.textops.dedup import semantic_dedup_components
    from mysql_log_parser_spark.textops.similarity import with_nearest_centroid

    e = _emb_double(emb)
    dup = e.where(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "v"
    )
    corpus = e.unionByName(dup)
    cents = _centroid_literals(_SD_K)
    sizes = [
        r["n"]
        for r in with_nearest_centroid(corpus, cents)
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert max(sizes) <= _SD_CAP, f"gate params violate their own cap: {max(sizes)}"
    out = semantic_dedup_components(
        corpus, cents, iters=2, cell_cap=_SD_CAP
    ).persist()
    n_dup = dup.count()
    dropped = out.where((F.col("vec_id") >= 10000) & ~F.col("keep")).count()
    # identical vectors share a cell by construction -> all injected copies drop
    assert dropped == n_dup, (dropped, n_dup)
    assert out.where(F.col("keep")).count() == out.count() - n_dup


def test_lsh_arrow_kernel_matches_catalyst(spark):
    """Integer-valued vectors make every plane dot exactly representable, so
    the Arrow matmul signatures must equal the Catalyst fold signatures
    bit-for-bit — and the full LSH top-k must agree between kernels."""
    import random

    from mysql_log_parser_spark.textops.similarity import (
        cosine_topk_lsh,
        hyperplane_signature,
        hyperplane_signatures_arrow,
    )

    rnd = random.Random(7)
    dim = 64
    rows = [(i, [float(rnd.randint(-3, 3)) for _ in range(dim)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cat = emb.select(
        "vec_id",
        *[hyperplane_signature(F.col("embedding"), dim, 6, t).cast("long").alias(f"b{t}")
          for t in range(4)],
    )
    arr = hyperplane_signatures_arrow(emb, dim, 6, 4).select(
        "vec_id", *[F.element_at("_sigs", t + 1).alias(f"b{t}") for t in range(4)]
    )
    got = {r["vec_id"]: (r["b0"], r["b1"], r["b2"], r["b3"]) for r in cat.collect()}
    want = {r["vec_id"]: (r["b0"], r["b1"], r["b2"], r["b3"]) for r in arr.collect()}
    assert got == want
    q = emb.where(F.col("vec_id") < 3)
    res = lambda k: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in cosine_topk_lsh(emb, q, dim=dim, k=3, n_planes=6, n_tables=4,
                                 round_to=6, kernel=k).collect()
    )
    assert res("catalyst") == res("arrow")


def test_lsh_arrow_plan_bounded_at_dim256(spark):
    """dim=256 x 8 planes x 4 tables would be ~16k literals in the Catalyst
    tree; the auto-selected Arrow kernel must keep the plan to one
    ArrowEvalPython node of constant size."""
    from mysql_log_parser_spark.textops.similarity import cosine_topk_lsh

    dim = 256
    emb = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: ((F.col("id") * 31 + j) % 7 - 3).cast("double"),
        ).alias("embedding"),
    )
    df = cosine_topk_lsh(
        emb, emb.where(F.col("vec_id") < 2), dim=dim, k=3, n_planes=8, n_tables=4
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert len(plan) < 50_000, f"plan blew up to {len(plan)} chars"
    # the dup-free top-1 of an exact duplicate must be that duplicate
    assert df.count() > 0


def test_centroid_arrow_kernel_matches_catalyst(spark):
    """Integer-valued vectors make every centroid dot exactly representable,
    so the Arrow matmul cell assignment must equal the Catalyst literal-fold
    assignment bit-for-bit — including first-index tie-breaking — at a
    production-ish k=256, d=64."""
    import hashlib
    import random

    from mysql_log_parser_spark.textops.similarity import with_nearest_centroid

    k, dim = 256, 64
    # integer centroids in [-3, 3] from md5 (deterministic, exact dots)
    cents = [
        [
            float(int(hashlib.md5(f"cc{c}d{j}".encode()).hexdigest()[:4], 16) % 7 - 3)
            for j in range(dim)
        ]
        for c in range(k)
    ]
    rnd = random.Random(11)
    rows = [(i, [float(rnd.randint(-3, 3)) for _ in range(dim)]) for i in range(60)]
    # duplicate centroid 0 at index 5 so at least the exact-centroid vector
    # exercises the first-max tie-break
    cents[5] = list(cents[0])
    rows.append((999, list(cents[0])))
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")

    res = lambda kern: {  # noqa: E731
        r["vec_id"]: r["cell"]
        for r in with_nearest_centroid(emb, cents, kernel=kern).collect()
    }
    cat, arr = res("catalyst"), res("arrow")
    assert cat == arr
    assert cat[999] == 0, "tie must break to the first (smallest) index"


def test_centroid_arrow_plan_bounded_at_k256(spark):
    """k=256 x d=64 is ~16k literals in the Catalyst tree; the auto-selected
    Arrow kernel must keep the plan to one constant-size ArrowEvalPython
    node (scalar pandas_udf — projection survives) with no literal blowup
    and no row-wise Python."""
    from mysql_log_parser_spark.textops.similarity import with_nearest_centroid

    k, dim = 256, 64
    cents = [[float((c * 31 + j) % 7 - 3) for j in range(dim)] for c in range(k)]
    emb = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: ((F.col("id") * 17 + j) % 5 - 2).cast("double"),
        ).alias("v"),
    )
    df = with_nearest_centroid(emb, cents)  # kernel='auto' -> arrow at 16k
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert len(plan) < 50_000, f"plan blew up to {len(plan)} chars"
    assert df.count() == 30


def test_semantic_dedup_agrees_across_kernels(spark, emb):
    """The full SemDeDup decision (pairs -> components -> keep) must be
    identical through the Catalyst and Arrow cell-assignment kernels at the
    gate parameters."""
    from mysql_log_parser_spark.entry_queries_ext import _SD_CAP, _SD_K, _centroid_literals
    from mysql_log_parser_spark.textops.dedup import semantic_dedup_components

    e = _emb_double(emb)
    dup = e.where(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "v"
    )
    corpus = e.unionByName(dup)
    cents = _centroid_literals(_SD_K)

    res = lambda kern: sorted(  # noqa: E731
        (r["vec_id"], r["component"], r["keep"])
        for r in semantic_dedup_components(
            corpus, cents, iters=2, cell_cap=_SD_CAP, kernel=kern
        ).collect()
    )
    assert res("catalyst") == res("arrow")


def test_bpe_train_n_equals_sequential_merge_steps(spark):
    """bpe_train_n(k) must equal k manual bpe_merge_step rounds exactly
    (same pairs, same rewritten corpus) and record one timed round per
    merge with the winning pair and its count."""
    from mysql_log_parser_spark.textops.bpe import bpe_merge_step, bpe_train_n

    rows = [(1, [97, 98, 97, 98, 99]), (2, [97, 98, 97, 97, 98]), (3, [99, 99])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")

    merged, rounds = bpe_train_n(df, 3)
    assert [r["new_id"] for r in rounds] == [256, 257, 258]
    assert all(r["seconds"] > 0 and r["count"] >= 1 for r in rounds)

    manual = df
    for nid in (256, 257, 258):
        manual = bpe_merge_step(manual, nid).select(
            "doc_id", F.col("tokens_merged").alias("tokens")
        )
    got = {r["doc_id"]: list(r["tokens"]) for r in merged.collect()}
    want = {r["doc_id"]: list(r["tokens"]) for r in manual.collect()}
    assert got == want
    # first merge must be (97, 98) -> 256, the most frequent pair
    assert (rounds[0]["lead"], rounds[0]["next"]) == (97, 98)


def test_bpe_train_sampled_parity_and_sampling(spark):
    """bpe_train_sampled with an all-true predicate must reproduce
    bpe_train_n's corpus exactly (train-on-everything == exact trainer);
    with a restrictive sample the merge table is learned from the sampled
    docs only but still rewrites every doc."""
    from mysql_log_parser_spark.textops.bpe import bpe_train_n, bpe_train_sampled

    rows = [(1, [97, 98, 97, 98, 99]), (2, [97, 98, 97, 97, 98]), (3, [99, 99, 99])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")

    full, full_rounds = bpe_train_sampled(df, 2, F.lit(True))
    exact, exact_rounds = bpe_train_n(df, 2)
    got = {r["doc_id"]: list(r["tokens_merged"]) for r in full.collect()}
    want = {r["doc_id"]: list(r["tokens"]) for r in exact.collect()}
    exact.unpersist()
    assert got == want
    assert [(r["lead"], r["next"]) for r in full_rounds] == [
        (r["lead"], r["next"]) for r in exact_rounds
    ]

    # sample = doc 3 only: the trainer must pick (99, 99), not the corpus
    # majority (97, 98) — and the apply still rewrites docs 1/2 (no-op here)
    sampled, rounds = bpe_train_sampled(df, 1, F.col("doc_id") == 3)
    assert (rounds[0]["lead"], rounds[0]["next"]) == (99, 99)
    out = {r["doc_id"]: list(r["tokens_merged"]) for r in sampled.collect()}
    assert out[3] == [256, 99]          # greedy left-to-right on [99,99,99]
    assert out[1] == [97, 98, 97, 98, 99]  # untouched: pair absent


def test_theta_containment_estimates_and_plan(spark):
    """Theta sketches below their nominal entries are exact: containment
    of a (subset) in b (superset) must be exactly 1.0, the reverse the
    true ratio; the pairwise stage must broadcast and contain no Python
    eval."""
    from mysql_log_parser_spark.entry_queries_textops import _theta_containment

    rows = [("a", str(i)) for i in range(10)] + [("b", str(i)) for i in range(40)]
    out = _theta_containment(
        spark.createDataFrame(rows, "source string, tri string")
    )
    got = {(r["source_a"], r["source_b"]): r["share_est"] for r in out.collect()}
    assert got == {("a", "b"): 1.0, ("b", "a"): 0.25}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ngram_novelty_sketch_prunes_and_stays_in_band(spark):
    """The sketched novelty audit must (a) keep every doc's estimate inside
    its per-doc band vs the exact permille, and (b) actually PRUNE: the
    sampled trigram relation feeding the frequency shuffle must be ~RATE of
    the exact one (the whole point of the scale path)."""
    import os

    from pyspark.sql import functions as F

    from mysql_log_parser_spark.entry_queries_textops import (
        _NOV_THRESHOLD,
        _word_trigrams,
        q_ngram_novelty_sketch,
    )
    from mysql_log_parser_spark.textops.quality import words_of

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("testdata missing")

    out = q_ngram_novelty_sketch(spark, sf)
    rows = out.collect()
    assert rows and all(r["sketch_in_band"] for r in rows)

    d = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", words_of(F.col("text")).alias("ws"))
        .where(F.size("ws") >= 3)
    )
    tris = d.select(F.explode(_word_trigrams()).alias("tri"))
    total = tris.count()
    h48 = F.conv(F.substring(F.md5("tri"), 1, 12), 16, 10).cast("long")
    sampled = tris.where(h48 < F.lit(_NOV_THRESHOLD)).count()
    # RATE=0.25 of the value space; occurrence share drifts with skew but
    # must be well under half and nonzero for the path to mean anything
    assert 0 < sampled < 0.5 * total, (sampled, total)


def test_token_topk_ascii_precondition_and_values(spark):
    """token_id_topk/token_bigram_topk's DuckDB oracles recover token ids
    via per-char unicode(), which equals the contract's UTF-8 byte encoding
    only while the corpus is pure ASCII — gate that precondition here, and
    check the unigram/bigram values on a tiny known corpus."""
    import os

    import duckdb

    from mysql_log_parser_spark.entry_queries_textops import (
        q_token_bigram_topk,
        q_token_id_topk,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not available")
    non_ascii = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf}/documents.parquet') "
        "WHERE octet_length(encode(text)) != length(text)"
    ).fetchone()[0]
    assert non_ascii == 0, "oracle precondition broken: corpus is not ASCII"
    # the BPE oracles additionally reserve chr(1)..chr(8) as sentinel chars
    # for merged ids 256..263 — raw control bytes in that range would be
    # misdecoded as merges that never happened (bpe_train8/bpe_train_sampled)
    sentinels = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf}/documents.parquet') "
        "WHERE regexp_matches(text, '[\\x01-\\x08]')"
    ).fetchone()[0]
    assert sentinels == 0, "oracle precondition broken: sentinel chars in corpus"

    uni = {r["token"]: r["n"] for r in q_token_id_topk(spark, sf).collect()}
    assert uni, "empty unigram table"
    # space is the most frequent byte in any prose-like corpus slice
    top = q_token_id_topk(spark, sf).orderBy("rank").first()
    assert top["rank"] == 1 and top["n"] == max(uni.values())

    bi = q_token_bigram_topk(spark, sf).orderBy("rank").collect()
    assert bi and bi[0]["rank"] == 1
    # every bigram decodes to two valid ASCII bytes
    for r in bi:
        lead, nxt = divmod(r["bigram"], 256)
        assert 0 < lead < 128 and 0 < nxt < 128


def test_heavy_hitters_matches_exact_on_skew(spark):
    """Two-pass MG heavy hitters == one-pass exact top-K on a skewed corpus,
    across multiple partitions (summaries must merge, not just one partition's
    view); the plan must keep pass 2 a broadcast join with no row-wise
    Python."""
    from mysql_log_parser_spark.textops.heavyhitters import heavy_hitters_topk

    # zipf-ish: token t appears ~ (40 - t)^2 times, spread over 8 partitions
    docs = spark.range(200).repartition(8).select(
        F.expr(
            "flatten(transform(sequence(1, 40), "
            "t -> array_repeat(t, CAST((41 - t) * (41 - t) / 40 AS INT))))"
        ).alias("tokens")
    )
    got = heavy_hitters_topk(docs, k_counters=32, topk=5).orderBy("rank").collect()

    exact = (
        docs.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .count()
        .orderBy(F.desc("count"), F.asc("token"))
        .limit(5)
        .collect()
    )
    assert [(r["token"], r["n"]) for r in got] == [
        (r["token"], r["count"]) for r in exact
    ]
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]


def test_heavy_hitters_uncertifiable_raises(spark):
    """Near-uniform data with k_counters too small for the threshold must
    raise (never silently return a possibly-incomplete top-K)."""
    from mysql_log_parser_spark.textops.heavyhitters import heavy_hitters_topk

    uniform = spark.range(64).select(
        F.expr("sequence(0, 63)").cast("array<int>").alias("tokens")
    )
    with pytest.raises(RuntimeError, match="cannot certify"):
        heavy_hitters_topk(uniform, k_counters=2, topk=5)


def test_heavy_hitters_small_vocab_is_exact_not_error(spark):
    """A corpus with fewer distinct tokens than topk is exact and complete —
    it must certify (returning all distinct tokens, correctly ranked), not
    raise just because the result has fewer than topk rows."""
    from mysql_log_parser_spark.textops.heavyhitters import heavy_hitters_topk

    docs = spark.range(20).repartition(4).select(
        F.expr("array(CAST(1 AS INT), CAST(1 AS INT), CAST(2 AS INT), "
               "CAST(3 AS INT))").alias("tokens")
    )
    got = heavy_hitters_topk(docs, k_counters=8, topk=5).orderBy("rank").collect()
    assert [(r["token"], r["n"], r["rank"]) for r in got] == [
        (1, 40, 1), (2, 20, 2), (3, 20, 3),
    ]


def test_heavy_hitters_plan_is_broadcast_recount(spark):
    """Pass 2 must broadcast the candidate set (never shuffle the exploded
    corpus against it) and contain no BatchEvalPython."""
    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.textops.heavyhitters import (
        mg_partition_summaries,
    )

    docs = spark.range(50).select(
        F.expr("transform(sequence(0, 30), t -> CAST(t % 7 AS INT))").alias("tokens")
    )
    cands = mg_partition_summaries(docs, 16).select("token").distinct()
    joined = (
        docs.select(F.explode("tokens").alias("token"))
        .join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_bpe_merge_greedy_left_to_right(spark):
    """The merge kernel must resolve overlapping matches exactly like a
    non-overlapping global string replace (what the DuckDB oracle replays):
    'aaaa' + pair (a,a) -> [X, X], 'aaa' -> [X, a].  top_bigram breaks a
    count tie by ascending (lead, next), the order the oracle's
    bg = lead*4096 + next encodes."""
    from mysql_log_parser_spark.textops.bpe import apply_merge, top_bigram

    ties = spark.createDataFrame(
        [(1, [98, 97]), (2, [97, 98])], "doc_id long, tokens array<int>"
    )
    assert top_bigram(ties) == (97, 98, 1)

    docs = spark.createDataFrame(
        [
            (1, [97, 97, 97, 97]),
            (2, [97, 97, 97]),
            (3, [98, 97, 97, 98]),
            (4, [99]),
        ],
        "doc_id long, tokens array<int>",
    )
    # pair occurrences (sliding, overlap-counted): 3 + 2 + 1 = 6
    assert top_bigram(docs) == (97, 97, 6)
    got = {
        r["doc_id"]: (list(r["tokens_merged"]), r["n_before"], r["n_after"])
        for r in apply_merge(docs, (97, 97), 256).collect()
    }
    assert got[1] == ([256, 256], 4, 2)
    assert got[2] == ([256, 97], 3, 2)
    assert got[3] == ([98, 256, 98], 4, 3)
    assert got[4] == ([99], 1, 1)


def test_bpe_merge_matches_string_replace_semantics(spark):
    """Property check on real corpus docs: per-doc n_after must equal what
    Python's str.replace (same greedy semantics as DuckDB replace) yields."""
    import os

    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.textops.bpe import bpe_merge_step, top_bigram

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not available")
    docs = spark.read.parquet(f"{sf}/documents.parquet").limit(50)
    toks = docs.select("doc_id", EQ.encode_tokens("text").alias("tokens"))
    lead, nxt, _ = top_bigram(toks)
    pat = chr(lead) + chr(nxt)
    expected = {
        r["doc_id"]: len(r["text"].replace(pat, "\x01"))
        for r in docs.select("doc_id", "text").collect()
    }
    got = {
        r["doc_id"]: r["n_after"]
        for r in bpe_merge_step(toks, new_id=256).collect()
    }
    assert got == expected


def test_resize_images_nearest_neighbor(spark):
    """resize_images: output buffers are exactly target_w*target_h bytes,
    metadata is rewritten, non-image rows are excluded, and the resample
    matches an independently computed nearest-neighbor reference."""
    media = multimodal.synth_media(spark, n=9, seed=7)
    out = {r["id"]: r for r in multimodal.resize_images(media, 8, 4).collect()}

    src = {r["id"]: r for r in media.where("kind = 'image'").collect()}
    assert set(out) == set(src) and out, "image rows must map 1:1"
    for mid, r in out.items():
        assert len(r["data"]) == 8 * 4
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 4
        # reference resample in pure python
        s = src[mid]
        w, h = s["meta"]["width"], s["meta"]["height"]
        buf = bytes(s["data"])
        full = [(buf * ((w * h) // len(buf) + 1))[: w * h][y * w : (y + 1) * w] for y in range(h)]
        expect = bytes(
            full[y * h // 4][x * w // 8] for y in range(4) for x in range(8)
        )
        assert bytes(r["data"]) == expect, mid

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.resize_images(media, 8, 4, decoder="pil")


def test_duplicate_span_stats_counts_and_short_docs(spark):
    """duplicate_span_stats: distinct-span counting within a doc, cross-doc
    duplication detection, zero rows for docs shorter than k, and integer
    permille; hand-computed expectations on a 4-doc corpus with k=3."""
    from mysql_log_parser_spark.textops.dedup import duplicate_span_stats

    rows = [
        # a and b share the window (1,2,3) and (2,3,4); c is unique;
        # d is shorter than k; e repeats its own span twice (distinct once)
        ("a", [1, 2, 3, 4]),          # spans: 123, 234
        ("b", [9, 1, 2, 3, 4]),       # spans: 912, 123, 234
        ("c", [7, 7, 7, 8]),          # spans: 777, 778
        ("d", [5, 6]),                # too short -> 0s
        ("e", [1, 2, 3, 1, 2, 3]),    # spans: 123,231,312,123 -> distinct 3
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {r["doc_id"]: r for r in duplicate_span_stats(df, k=3).collect()}
    assert len(got) == 5
    # expected distinct span counts
    assert got["a"]["n_spans"] == 2 and got["b"]["n_spans"] == 3
    assert got["c"]["n_spans"] == 2 and got["d"]["n_spans"] == 0
    assert got["e"]["n_spans"] == 3  # within-doc repeat counted once
    # (1,2,3) occurs in a, b, e; (2,3,4) in a, b
    assert got["a"]["n_dup"] == 2        # both of a's spans are shared
    assert got["b"]["n_dup"] == 2        # 912 is unique to b
    assert got["c"]["n_dup"] == 0
    assert got["d"]["n_dup"] == 0 and got["d"]["dup_permille"] == 0
    assert got["e"]["n_dup"] == 1        # only 123 is cross-doc
    assert got["a"]["dup_permille"] == 1000
    assert got["b"]["dup_permille"] == 666   # 2000 div 3
    assert got["e"]["dup_permille"] == 333


def test_apply_merges_equals_sequential_merge_one(spark):
    """apply_merges: one Arrow pass == folding merge_one per rank, including
    ranks that consume earlier ranks' minted ids."""
    import numpy as np

    from mysql_log_parser_spark.textops.bpe import apply_merges, merge_one

    merges = [(1, 2, 256), (256, 3, 257), (257, 257, 258)]
    rows = [
        (10, [1, 2, 3, 1, 2, 3]),   # -> 256,3,256,3 -> 257,257 -> 258
        (11, [1, 2, 1, 2]),         # -> 256,256 (no 3s)
        (12, [9]),                  # untouched
        (13, []),                   # empty stays empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    got = {r["doc_id"]: r for r in apply_merges(df, merges).collect()}
    for doc_id, toks in rows:
        expect = np.asarray(toks, dtype=np.int64)
        for p1, p2, nid in merges:
            expect = merge_one(expect, p1, p2, nid)
        assert list(got[doc_id]["tokens_merged"]) == list(expect), doc_id
        assert got[doc_id]["n_before"] == len(toks)
        assert got[doc_id]["n_after"] == len(expect)
    assert list(got[10]["tokens_merged"]) == [258]
    assert list(got[11]["tokens_merged"]) == [256, 256]


def test_temperature_mix_flattens(spark):
    """alpha=0.5 must move every source's share toward uniform: sources
    below the natural mean gain share, sources above lose it, and the
    upsample factors realize exactly that direction."""
    from mysql_log_parser_spark.textops.sampling import temperature_mix

    rows = [(i, "x " * (10 if s == "small" else 1000), s)
            for s in ("small", "big") for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r.asDict() for r in temperature_mix(docs).collect()}
    assert out["small"]["temp_share_permille"] > out["small"]["share_permille"]
    assert out["big"]["temp_share_permille"] < out["big"]["share_permille"]
    assert out["small"]["factor_permille"] > 1000   # upsampled
    assert out["big"]["factor_permille"] < 1000     # downsampled
    # shares stay a (permille-floored) distribution
    assert 995 <= out["small"]["temp_share_permille"] + out["big"]["temp_share_permille"] <= 1000


def test_incremental_lsh_check(spark):
    """Delta-vs-index near-dup check: the appended-tail copy flags against
    its base doc, the unrelated doc passes clean with zero candidates, and
    base docs are never checked against each other."""
    from mysql_log_parser_spark.textops.dedup import incremental_lsh_check

    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different content about mysql slow query logs here"),
        ],
        ["doc_id", "text"],
    )
    delta = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again tail"),
            (11, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo nnn"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["delta_id"]: r.asDict()
        for r in incremental_lsh_check(base, delta, num_hashes=8, bands=4,
                                       threshold=0.5).collect()
    }
    assert out[10]["is_dup"] and out[10]["best_match"] == 1
    assert out[10]["best_jaccard"] > 0.5 and out[10]["n_cands"] >= 1
    assert not out[11]["is_dup"] and out[11]["n_cands"] == 0
    assert out[11]["best_jaccard"] == 0.0 and out[11]["best_match"] is None


def test_incremental_lsh_ingest_appends_accepted(spark, tmp_path):
    """Loop closure: a batch-1 near-copy of a BATCH-0 doc is caught only
    because batch 0's accepted signatures were appended to the index —
    the base-only checker (no append) misses the same probe.  Rejected
    docs are never indexed: a batch-1 near-copy of a batch-0 REJECTED doc
    resolves via the seed doc that caused the rejection."""
    from mysql_log_parser_spark.textops.dedup import (
        incremental_lsh_check,
        incremental_lsh_ingest,
    )

    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again")],
        ["doc_id", "text"],
    )
    batch0 = spark.createDataFrame(
        [
            # fresh -> accepted -> appended
            (10, "completely different content about mysql slow query logs here"),
            # near-copy of seed doc 1 -> rejected -> NOT appended
            (11, "the quick brown fox jumps over the lazy dog again and again t"),
        ],
        ["doc_id", "text"],
    )
    batch1 = spark.createDataFrame(
        [
            # near-copy of ACCEPTED batch-0 doc 10 -> dup iff append happened
            (20, "completely different content about mysql slow query logs here x"),
            # near-copy of REJECTED doc 11 -> matches via seed doc 1
            (21, "the quick brown fox jumps over the lazy dog again and again q"),
        ],
        ["doc_id", "text"],
    )
    kw = dict(num_hashes=8, bands=4, threshold=0.5)
    out = {
        (r["batch"], r["delta_id"]): r.asDict()
        for r in incremental_lsh_ingest(
            base, [batch0, batch1], str(tmp_path / "idx"), **kw
        ).collect()
    }
    assert not out[(0, 10)]["is_dup"]
    assert out[(0, 11)]["is_dup"] and out[(0, 11)]["best_match"] == 1
    assert out[(1, 20)]["is_dup"] and out[(1, 20)]["best_match"] == 10
    # rejected doc 11 is not in the index: 21 resolves via seed doc 1
    assert out[(1, 21)]["is_dup"] and out[(1, 21)]["best_match"] == 1
    # control: the maintenance-free checker misses the batch-0 near-dup
    static = {
        r["delta_id"]: r.asDict()
        for r in incremental_lsh_check(base, batch1, **kw).collect()
    }
    assert not static[20]["is_dup"] and static[20]["n_cands"] == 0


def test_char_diversity(spark):
    """Collision-index extremes: a single-char run scores exactly 1000
    permille on both signals; a string of all-distinct chars scores the
    uniform floor 1000/n; empty text gets the zero row."""
    from mysql_log_parser_spark.textops.quality import char_diversity

    docs = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdefgh"), (3, ""), (4, "aabb")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in char_diversity(docs).collect()}
    assert out[1]["simpson_permille"] == 1000 and out[1]["top_char_permille"] == 1000
    assert out[2]["simpson_permille"] == 125 and out[2]["distinct_chars"] == 8
    assert out[3] == {"doc_id": 3, "n_chars": 0, "distinct_chars": 0,
                      "simpson_permille": 0, "top_char_permille": 0}
    assert out[4]["simpson_permille"] == 500 and out[4]["top_char_permille"] == 500
    plan = char_diversity(docs)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Exchange" not in plan


def test_bpe_train_dry_sample_stops_early(spark):
    """A sample that runs out of adjacent pairs stops training instead of
    raising away the merges already learned; an EMPTY sample learns zero
    merges and the corpus-wide apply is the identity tokenization."""
    from mysql_log_parser_spark.textops.bpe import bpe_train_n, bpe_train_sampled

    df = spark.createDataFrame(
        [(1, [97, 98, 97, 98]), (2, [99])], "doc_id long, tokens array<int>"
    )
    # doc 2 alone has no bigrams at all -> 0 rounds, identity apply
    out, rounds = bpe_train_sampled(df, 3, F.col("doc_id") == 2)
    assert rounds == []
    got = {r["doc_id"]: list(r["tokens_merged"]) for r in out.collect()}
    assert got == {1: [97, 98, 97, 98], 2: [99]}
    # doc 1: merge 1 -> [256, 256]; merge 2 -> [257]; then DRY at round 3
    merged, rounds = bpe_train_n(df.where(F.col("doc_id") == 1), 5)
    assert len(rounds) == 2
    assert [list(r["tokens"]) for r in merged.collect()] == [[257]]
    merged.unpersist()


def test_bpe_train_engine_error_propagates(spark, monkeypatch):
    """Only corpus exhaustion ends training early: an engine error raised
    while selecting a pair (PySparkRuntimeError is a RuntimeError) must
    propagate, not return a silently truncated merge table."""
    from pyspark.errors import PySparkRuntimeError

    from mysql_log_parser_spark.textops import bpe

    df = spark.createDataFrame(
        [(1, [97, 98, 97, 98, 99, 100])], "doc_id long, tokens array<int>"
    )
    real, calls = bpe.top_bigram, []

    def failing_second_call(tokens_df):
        calls.append(1)
        if len(calls) == 2:
            raise PySparkRuntimeError("simulated engine failure")
        return real(tokens_df)

    monkeypatch.setattr(bpe, "top_bigram", failing_second_call)
    with pytest.raises(PySparkRuntimeError, match="simulated engine failure"):
        bpe.bpe_train_n(df, 3)
    assert len(calls) == 2


def test_calibrate_per_source(spark):
    """Percentile rank is within-source (the same score ranks differently
    in different sources), ties share a rank (docs-strictly-below), and
    keep selects the top slice of EACH source."""
    from mysql_log_parser_spark.textops.sampling import calibrate_per_source

    rows = [(i, "a", s) for i, s in enumerate([10, 20, 30, 40, 50])] + [
        (10 + i, "b", s) for i, s in enumerate([50, 60, 60, 70])
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    out = {r["doc_id"]: r.asDict() for r in
           calibrate_per_source(df, cut_permille=600).collect()}
    # source a: below-counts 0..4 of 5 -> 0, 200, 400, 600, 800
    assert [out[i]["pct_permille"] for i in range(5)] == [0, 200, 400, 600, 800]
    assert [out[i]["keep"] for i in range(5)] == [False] * 3 + [True, True]
    # score 50 ranks 800 in source a but 0 in source b (within-source rank)
    assert out[10]["pct_permille"] == 0 and not out[10]["keep"]
    # tie: both 60s share below=1 of 4 -> 250
    assert out[11]["pct_permille"] == out[12]["pct_permille"] == 250
    assert out[13]["pct_permille"] == 750 and out[13]["keep"]
