"""Property tests for the LLM-pipeline operators (SURVEY.md §2.7)."""

from __future__ import annotations

import math

import pytest
from conftest import half_up
from pyspark.sql import functions as F

from bricolage_spark.operators import dedup as D
from bricolage_spark.operators import multimodal as M
from bricolage_spark.operators import similarity as S
from bricolage_spark.operators import textual as T

DOC = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to hide from the loud hunters"
)
NEAR = DOC.replace("green", "dark").replace("loud", "angry")
OTHER = (
    "completely different content about spark query engines and shuffle "
    "partitions with no overlap at all whatsoever in any shingle"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, DOC), (2, NEAR), (3, OTHER), (4, DOC), (5, "  THE  " + DOC[4:])],
        "doc_id long, text string",
    )


def test_exact_dedup_groups_normalized_duplicates(docs):
    out = {r.keep_id: r.dup_count for r in D.exact_dedup(docs, "doc_id", "text").collect()}
    # doc 4 is an exact dup of 1; doc 5 is a whitespace/case variant → same hash
    assert out[1] == 3
    assert 4 not in out and 5 not in out
    assert out[2] == 1 and out[3] == 1


def test_minhash_similarity_tracks_jaccard(docs, spark):
    sh = D.word_shingles(docs, "doc_id", "text", k=3)
    sigs = {r["doc_id"]: [r[f"h{i}"] for i in range(16)]
            for r in D.minhash_signatures(sh, "doc_id", 16).collect()}
    agree = lambda a, b: sum(x == y for x, y in zip(sigs[a], sigs[b])) / 16
    assert agree(1, 4) == 1.0           # identical docs → identical signature
    assert agree(1, 2) > agree(1, 3)    # near-dup closer than unrelated
    assert agree(1, 3) < 0.3


def test_lsh_finds_near_pair_not_random_pair(docs):
    sh = D.word_shingles(docs, "doc_id", "text", k=3).withColumnRenamed("doc_id", "id")
    sigs = D.minhash_signatures(sh, "id", 16)
    pairs = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(sigs, "id", 8, 2).collect()}
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs  # near dup: 8 bands × 2 rows catches j≈0.8
    assert (1, 3) not in pairs


def test_jaccard_exact_values(docs):
    sh = D.word_shingles(docs, "doc_id", "text", k=3).withColumnRenamed("doc_id", "id")
    pairs = docs.sparkSession.createDataFrame([(1, 4), (1, 3)], "id_a long, id_b long")
    j = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(sh, pairs, "id").collect()}
    assert j[(1, 4)] == 1.0
    assert (1, 3) not in j or j[(1, 3)] < 0.05  # no shared shingles → no row


def test_simhash_hamming_orders_similarity(docs):
    fp = {r.doc_id: r.simhash for r in D.simhash(docs, "doc_id", "text", 16).collect()}
    ham = lambda a, b: bin(fp[a] ^ fp[b]).count("1")
    assert ham(1, 4) == 0
    assert ham(1, 2) < ham(1, 3)


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(50, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    out = S.brute_force_cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    got = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    v = vecs.astype("float64")
    sims = (v @ v[0]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    sims[0] = -np.inf
    expect = list(np.argsort(np.round(sims, 4))[::-1][:3])
    assert got == [int(x) for x in expect]


def test_srp_bucket_deterministic_and_local(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0]), (3, [1.01, 2.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    rows = df.select("vec_id", S.srp_bucket("embedding", 8).alias("b")).collect()
    b = {r.vec_id: r.b for r in rows}
    assert b[1] == b[2]          # identical vectors → same bucket
    assert b[1] == b[3]          # tiny perturbation → same bucket (locality)
    assert 0 <= b[1] < 256


def test_dedup_degenerate_doc_semantics_pinned(spark):
    """r13 audit: PIN the (consistent, oracle-mirrored) edge semantics of
    degenerate documents so a refactor cannot silently change them.

    - exact dedup: NULL text hashes NULL (its own group); ""/whitespace
      normalize to "" and cluster together — NULL and "" are DISTINCT.
    - shingle path: NULL, "" and whitespace all yield the single ""
      shingle, so the near-dup pipeline puts all three in one clique
      (empty ≈ empty; at scale the "" bucket is bounded by the LSH
      max_bucket cap like any boilerplate bucket).
    - simhash: NULL text emits NO row; ""/whitespace share a fingerprint.
    """
    rows = [(1, None), (2, ""), (3, "   "), (4, "real content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {r.keep_id: r.dup_count for r in D.exact_dedup(df, "doc_id", "text").collect()}
    assert exact == {1: 1, 2: 2, 4: 1}

    sh = D.word_shingles(df, "doc_id", "text")
    assert {r.shingle for r in sh.filter(F.col("doc_id") < 4).collect()} == {""}
    sig = D.minhash_signatures(sh, "doc_id")
    pairs = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(sig, "doc_id").collect()
    }
    assert pairs == {(1, 2), (1, 3), (2, 3)}

    simhash = {r.doc_id: r.simhash for r in D.simhash(df, "doc_id", "text").collect()}
    assert 1 not in simhash
    assert simhash[2] == simhash[3]


def test_srp_margins_match_numpy_mirror(spark):
    import numpy as np

    vecs = [[0.3, -1.2, 0.7, 2.1], [-0.5, 0.4, -0.9, 0.05]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    n_planes, dims = 5, 4
    rows = df.select(
        "vec_id", S.srp_margins("embedding", n_planes, dims).alias("m")
    ).collect()
    planes = np.array(
        [S.plane_components(p, dims) for p in range(n_planes)]
    )
    for r in rows:
        v = np.array(vecs[r.vec_id], dtype=np.float32).astype(np.float64)
        projs = planes @ v
        expect = sorted(
            (half_up(abs(x), 6), p) for p, x in enumerate(projs)
        )
        got = [(m["m"], m["p"]) for m in r.m]
        assert got == expect


def test_multiprobe_nflip0_equals_single_probe(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4)
    multi = S.lsh_multiprobe_topk(emb, q, k=3, n_planes=6, n_flip=0)
    single = S.lsh_bucketed_topk(emb, q, k=3, n_planes=6)
    assert sorted(map(tuple, multi.collect())) == sorted(
        map(tuple, single.collect())
    )


def test_multiprobe_recall_monotone_in_flips(spark, sf_dir):
    # the candidate set at n_flip=t is a strict superset of n_flip=t-1
    # (the probe list only grows), so recall vs the exact baseline can
    # only go up — the property that makes n_flip a safe recall dial
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    exact = S.brute_force_cosine_topk(emb, q, k=5)
    recalls = []
    for t in (0, 2, 4):
        approx = S.lsh_multiprobe_topk(emb, q, k=5, n_planes=6, n_flip=t)
        recalls.append(
            S.ann_recall(exact, approx, 5).agg(F.avg("recall")).collect()[0][0]
        )
    assert recalls == sorted(recalls)
    # probing every neighbor bucket must strictly beat the 1x fixture's
    # single-bucket floor on this corpus (0.05 at sf0.001/sf0.01)
    assert recalls[-1] > recalls[0]


def test_multiprobe_second_order_extends_the_dial(spark, sf_dir):
    """Pair probes (n_flip2) are the dial past the single-bit plateau:
    n_flip2=0 reproduces the first-order operator exactly, and recall
    is monotone in the pair-probe count (the candidate set only
    grows). SCALE.md records the jittered-fixture measurement where
    2 singles + 4 pairs reach recall 1.0 at less scan than 8 singles."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    first_order = sorted(
        map(tuple, S.lsh_multiprobe_topk(emb, q, k=5, n_planes=6, n_flip=2).collect())
    )
    zero_pairs = sorted(
        map(
            tuple,
            S.lsh_multiprobe_topk(
                emb, q, k=5, n_planes=6, n_flip=2, n_flip2=0
            ).collect(),
        )
    )
    assert first_order == zero_pairs
    exact = S.brute_force_cosine_topk(emb, q, k=5)
    recalls = []
    for t2 in (0, 2, 4):
        out = S.lsh_multiprobe_topk(
            emb, q, k=5, n_planes=6, n_flip=2, n_flip2=t2
        )
        recalls.append(
            S.ann_recall(exact, out, 5).agg(F.avg("recall")).collect()[0][0]
        )
    assert recalls == sorted(recalls)


def test_multiprobe_rejects_bad_pair_count(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="n_flip2"):
        S.lsh_multiprobe_topk(df, df, n_planes=6, n_flip=1, n_flip2=7)


def test_multiprobe_rejects_bad_flip_count(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="n_flip"):
        S.lsh_multiprobe_topk(df, df, n_planes=6, n_flip=7)


def test_language_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is big"),
            (2, "el gato y la casa de los perros que ladran"),
            (3, "der Hund und die Katze das ist gut"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in T.detect_language(df, "doc_id", "text").collect()}
    assert out == {1: "en", 2: "es", 3: "de"}


def test_token_stats_values(spark):
    df = spark.createDataFrame([(1, "Hello, world! Twelve chars.")], "doc_id long, text string")
    r = T.token_stats(df, "doc_id", "text").collect()[0]
    assert r.n_words == 4
    assert r.n_tokens_regex == 7  # hello , world ! twelve chars .
    assert r.n_chars == 27
    assert r.n_tokens_bpe_est == math.ceil(27 / 4)


def test_quality_score_orders_garbage_below_prose(spark):
    df = spark.createDataFrame(
        [
            (1, "the " * 60 + "sensible text with the usual words and the like"),
            (2, "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@" * 3),
        ],
        "doc_id long, text string",
    )
    q = {r.doc_id: r.quality for r in T.quality_score(df, "doc_id", "text").collect()}
    assert q[1] > q[2]


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Some  Text Here"), (2, "some text   here"), (3, "other words")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: (r.digest, r.min_shingle_hash) for r in T.fingerprint(df, "doc_id", "text").collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_multimodal_pipeline_schema_and_determinism(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "world")], "doc_id long, text string")
    media = M.documents_as_media(df)
    feats = M.extract_features(media, dim=4).collect()
    by_id = {r.media_id: r for r in feats}
    assert by_id[1].byte_len == 5
    assert len(by_id[1].feature) == 4
    import hashlib

    assert by_id[1].digest == hashlib.md5(b"hello").hexdigest()
    # deterministic across runs
    feats2 = {r.media_id: r.feature for r in M.extract_features(media, dim=4).collect()}
    assert feats2[1] == by_id[1].feature


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        M.decode_stub()


def test_salted_join_matches_plain_join(spark):
    from bricolage_spark.operators.skew import salted_join

    # one hot key (0) with many rows, plus normal keys
    facts = spark.createDataFrame(
        [(i % 3, i, float(i)) for i in range(300)], "k long, rid long, v double"
    )
    dim = spark.createDataFrame([(0, "hot"), (1, "a"), (2, "b")], "k long, name string")
    plain = {(r.rid, r.name) for r in facts.join(dim, "k").collect()}
    salted = {
        (r.rid, r.name)
        for r in salted_join(facts, dim, key="k", salt_from="rid", n_salts=8).collect()
    }
    assert salted == plain


def test_salted_join_skips_replication_on_uniform_keys(spark):
    """No heavy hitter → detect_hot_keys is empty and salted_join emits the
    PLAIN join plan (no explode/union replication tax on uniform data)."""
    from bricolage_spark.operators.skew import detect_hot_keys, salted_join

    facts = spark.createDataFrame(
        [(i, i, float(i)) for i in range(2000)], "k long, rid long, v double"
    )
    dim = spark.createDataFrame([(i, f"n{i}") for i in range(2000)], "k long, name string")
    assert detect_hot_keys(facts, "k", sample_frac=1.0) == []
    out = salted_join(facts, dim, key="k", salt_from="rid")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" not in plan and "Union" not in plan
    assert out.count() == 2000


def test_salted_join_split_replicates_only_hot_keys(spark):
    """One hot key → split join: salted branch for the hot key, plain
    branch for the rest; result identical to the plain join (inner+left)."""
    from bricolage_spark.operators.skew import detect_hot_keys, salted_join

    rows = [(0, i, float(i)) for i in range(500)] + [
        (k, 1000 + k, 0.0) for k in range(1, 50)
    ]
    facts = spark.createDataFrame(rows, "k long, rid long, v double")
    dim = spark.createDataFrame(
        [(k, f"n{k}") for k in range(0, 40)], "k long, name string"
    )
    hot = detect_hot_keys(facts, "k", sample_frac=1.0)
    assert hot == [0]
    for how in ("inner", "left"):
        plain = {
            (r.rid, r.name) for r in facts.join(dim, "k", how).collect()
        }
        split = {
            (r.rid, r.name)
            for r in salted_join(
                facts, dim, key="k", salt_from="rid", how=how
            ).collect()
        }
        assert split == plain, how


def test_salted_join_right_full_are_identities_multiset(spark):
    """r13 self-review regression: the full-replication path emitted up
    to n_salts spurious NULL-filled rows per ``other`` row under
    right/full joins (an other-replica whose (key, salt) matched no
    skewed row survived the outer join even when another salt of the
    same key DID match). Multiset comparison on purpose — the
    duplicates collapse under the set-compare the older tests use."""
    from collections import Counter

    from bricolage_spark.operators.skew import salted_join

    skewed = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "n")], "k int, v string"
    )
    # key 3 matches nothing; the NULL key matches nothing (NULL <> NULL)
    other = spark.createDataFrame(
        [(1, "X"), (3, "Z"), (None, "NN")], "k int, w string"
    )
    for how in ("right", "full", "inner", "left", "left_semi", "left_anti"):
        plain = Counter(map(tuple, skewed.join(other, "k", how).collect()))
        salted = Counter(
            map(
                tuple,
                salted_join(
                    skewed, other, "k", salt_from="v", n_salts=4, how=how,
                    hot=[1],
                ).collect(),
            )
        )
        assert salted == plain, f"{how}: {salted} != {plain}"


def test_salted_aggregate_matches_plain(spark):
    from bricolage_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [(i % 2, i, float(i)) for i in range(1000)], "k long, rid long, v double"
    )
    plain = {
        (r.k): (r.s, r.n)
        for r in df.groupBy("k")
        .agg(__import__("pyspark.sql.functions", fromlist=["sum"]).sum("v").alias("s"),
             __import__("pyspark.sql.functions", fromlist=["count"]).count("rid").alias("n"))
        .collect()
    }
    out = salted_aggregate(
        df, ["k"], {"v": "sum", "rid": "count"}, salt_from="rid", n_salts=8
    )
    got = {r.k: (r.sum_v, r.count_rid) for r in out.collect()}
    assert got == plain


def test_salted_aggregate_holistic_collects_match_plain(spark):
    """collect_set/collect_list partials flatten to the plain result —
    the holistic family is where salting actually earns its keep (the
    algebraic family is already defused by map-side partial agg;
    measured in tools/skew_probe.py)."""
    from pyspark.sql import functions as SF

    from bricolage_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [(i % 3, i % 50, i) for i in range(600)], "k long, v long, rid long"
    )
    plain = {
        r.k: sorted(r.s)
        for r in df.groupBy("k").agg(SF.collect_set("v").alias("s")).collect()
    }
    out = salted_aggregate(
        df, ["k"], {"v": "collect_set", "rid": "collect_list"},
        salt_from="rid", n_salts=8,
    )
    rows = out.collect()
    assert {r.k: sorted(r.collect_set_v) for r in rows} == plain
    # collect_list keeps every occurrence (multiset equality)
    for r in rows:
        assert sorted(r.collect_list_rid) == sorted(
            i for i in range(600) if i % 3 == r.k
        )


def test_salted_aggregate_rejects_nonmergeable(spark):
    from bricolage_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    with pytest.raises(ValueError, match="non-mergeable"):
        salted_aggregate(df, ["k"], {"v": "avg"}, salt_from="v")


def test_asof_join_backward_semantics(spark):
    from bricolage_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "t1"), (1, 20, "t2"), (1, 5, "t0"), (2, 10, "u1")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (2, 99, 300.0)],
        "k long, ts long, px double",
    )
    out = {
        (r.k, r.ts): (r.px_right, r.ts_right)
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    assert out[(1, 10)] == (100.0, 8)    # latest right ts <= 10 is 8
    assert out[(1, 20)] == (200.0, 15)
    assert out[(1, 5)] == (None, None)   # nothing at or before 5
    assert out[(2, 10)] == (None, None)  # right row is in the future


def test_asof_join_inclusive_at_equal_ts(spark):
    from bricolage_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 10, 7.0)], "k long, ts long, px double")
    r = asof_join(left, right, on="ts", by="k").collect()[0]
    assert r.px_right == 7.0  # right.ts == left.ts matches (inclusive)


def test_asof_join_null_timestamps_never_match(spark):
    """r13 self-review regression: a NULL right timestamp can never
    satisfy right.ts <= left.ts, but it sorted NULLS FIRST — before
    every real row — and was carried as a spurious '-infinity' match
    into any left row with no true predecessor. NULL LEFT timestamps
    must likewise match nothing (and still come back, NULL-filled)."""
    from bricolage_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 3, "early"), (1, 10, "late"), (1, None, "nots")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, None, "bad"), (1, 5, "good")], "k long, ts long, rv string"
    )
    out = {
        r.tag: (r.rv_right, r.ts_right)
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    assert out["early"] == (None, None)   # ts=3: nothing at or before
    assert out["late"] == ("good", 5)
    assert out["nots"] == (None, None)    # NULL left ts matches nothing
    assert len(out) == 3                  # every left row survives


def test_asof_join_carries_right_rows_atomically(spark):
    """A legitimate NULL inside a right row must be carried AS NULL —
    per-column carry would resurrect the previous row's value for just
    that column, fabricating a right row that never existed."""
    from bricolage_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10), (1, 20)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 100.0, "full"), (1, 15, None, "px-is-null")],
        "k long, ts long, px double, note string",
    )
    out = {r.ts: (r.px_right, r.note_right)
           for r in asof_join(left, right, on="ts", by="k").collect()}
    assert out[10] == (100.0, "full")
    # at ts=20 the match is the ts=15 row: px NULL, note fresh — NOT
    # the stale 100.0 mixed with the fresh note
    assert out[20] == (None, "px-is-null")


def test_ngram_jaccard_neardup_finds_near_pair_only(docs):
    out = D.ngram_jaccard_neardup(
        docs, "doc_id", "text", k=3, threshold=0.3, max_df=10
    ).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    # near-dup cluster {1, 4, 5} (exact/whitespace dups) and the edited
    # variant 2 — all pairwise; doc 3 shares no shingle with anything
    assert (1, 2) in pairs and (1, 4) in pairs and (1, 5) in pairs
    assert pairs[(1, 4)] == 1.0 and pairs[(1, 5)] == 1.0
    assert 0.3 <= pairs[(1, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard_max_df_prunes_boilerplate(spark):
    # every doc shares the same boilerplate shingles; with max_df below the
    # corpus size no shingle is rare, so no candidate pairs survive
    boiler = "this exact same boilerplate sentence repeated everywhere"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(6)], "doc_id long, text string"
    )
    out = D.ngram_jaccard_neardup(df, "doc_id", "text", threshold=0.1, max_df=5)
    assert out.count() == 0


def test_ivf_centroids_deterministic_and_assignment_local(spark):
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)], 0) for i in range(64)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    c1 = S.ivf_centroids(df, k_cells=4, seed=99)
    c2 = S.ivf_centroids(df, k_cells=4, seed=99)
    assert c1 == c2  # fully deterministic training
    assert len(c1) == 4 and all(len(c) == 8 for _, c in c1)
    # assignment expression is row-local: the labeled plan has no Exchange
    labeled = df.select(S.ivf_cell("embedding", c1).alias("cell"))
    assert "Exchange" not in labeled._jdf.queryExecution().executedPlan().toString()
    cells = {r.cell for r in labeled.collect()}
    assert cells <= {0, 1, 2, 3}


def test_ivf_centroids_gate_sides_agree_on_duplicate_ids(spark, monkeypatch):
    """The literal and the broadcast Lloyd labelling (the two sides of
    the k_cells*dims size gate) both label every ROW, so a corpus with
    duplicate ids trains the same centroids on either side."""
    import random

    rnd = random.Random(11)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)], 0) for i in range(64)
    ]
    rows += [r for r in rows if r[0] % 3 == 0]  # repeated rows, same id
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    literal = S.ivf_centroids(df, k_cells=4, seed=99)  # 4 x 8 literals
    monkeypatch.setattr(S, "_LITERAL_CENTROID_LIMIT", 0)
    assert S.ivf_centroids(df, k_cells=4, seed=99) == literal


def test_ivf_topk_matches_brute_force_within_probed_cells(spark):
    import random

    rnd = random.Random(3)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)], 0) for i in range(64)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    cents = S.ivf_centroids(df, k_cells=4, seed=99)
    queries = df.filter(F.col("vec_id") < 2)
    out = S.ivf_topk(df, queries, cents, k=3, nprobe=4)  # nprobe=all cells
    exact = S.brute_force_cosine_topk(df, queries, k=3)
    # probing every cell must reproduce the exact brute-force result
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert got == want


def test_connected_components_chains_and_islands(spark):
    """Min-label propagation: chains collapse to the min id even when the
    edge list never links the endpoints directly; islands stay separate."""
    from bricolage_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4 (worst case: needs >1 round), pair 10-11,
        # and a triangle 20-21-22 entered in arbitrary order
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20), (22, 21), (20, 22)],
        "id_a bigint, id_b bigint",
    )
    cc = connected_components(edges, "id_a", "id_b")
    got = {r.id: r.component for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    from bricolage_spark.operators.graph import connected_components

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
    )
    cc = connected_components(edges, "id_a", "id_b")
    assert {r.component for r in cc.collect()} == {0}


def test_connected_components_raises_on_max_iter_exhaustion(spark):
    """Diameter > max_iter with the fallback disabled must fail loudly,
    never return split clusters."""
    import pytest

    from bricolage_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, "id_a", "id_b", max_iter=2, fallback_star=False)


def test_connected_components_star_fallback_handles_long_chains(spark):
    """Default path: label propagation exhausts max_iter on a deep chain
    and the large-star/small-star fallback still returns exact labels."""
    from bricolage_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100, 101)],
        "id_a bigint, id_b bigint",
    )
    cc = connected_components(edges, "id_a", "id_b", max_iter=2)
    got = {r.id: r.component for r in cc.collect()}
    assert got == {i: 0 for i in range(31)} | {100: 100, 101: 100}


def test_connected_components_both_impls_match_union_find(spark):
    """Seeded random graphs (self-loops, negative ids, multi-edges) vs a
    pure-Python union-find ground truth — both the propagation path and
    the star path must produce the exact min-label components (r13
    audit harness, 12 seeds run clean; 3 pinned here for CI time)."""
    import random

    from bricolage_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    def cc_py(edges):
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        nodes = set()
        for a, b in edges:
            nodes.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp: dict = {}
        for x in nodes:
            comp.setdefault(find(x), []).append(x)
        return {x: min(mem) for mem in comp.values() for x in mem}

    for seed in (0, 3, 7):
        rng = random.Random(seed)
        n = rng.randint(2, 40)
        edges = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(1, 80))
        ] + [(-5, -5), (-5, 0)]
        truth = cc_py(edges)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for fn in (connected_components, connected_components_star):
            got = {r.id: r.component for r in fn(df).collect()}
            assert got == truth, (fn.__name__, seed)


def test_pagerank_matches_power_iteration_mirror(spark):
    """pagerank == an independent NumPy power-iteration mirror (same
    teleport + dangling redistribution), to 1e-12 — including a node
    (5) that only ever appears as a link TARGET (dangling leaf)."""
    import numpy as np

    from bricolage_spark.operators.graph import pagerank

    raw = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 5), (2, 5)]
    edges = spark.createDataFrame(raw, "src bigint, dst bigint")
    got = {
        r.id: r.rank
        for r in pagerank(edges, iterations=5, damping=0.85).collect()
    }

    ids = sorted({v for e in raw for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n, d = len(ids), 0.85
    out: dict[int, list[int]] = {}
    for s, t in raw:
        out.setdefault(s, []).append(t)
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        nxt = np.full(n, (1.0 - d) / n)
        dangling = sum(r[idx[v]] for v in ids if v not in out)
        nxt += d * dangling / n
        for s, ts in out.items():
            for t in ts:
                nxt[idx[t]] += d * r[idx[s]] / len(ts)
        r = nxt
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-12, (v, got[v], r[idx[v]])
    # dangling redistribution conserves total rank mass
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the hub (2: three in-links incl. from the cycle) outranks the leaf 3
    assert got[2] > got[3]


def test_pagerank_uniform_cycle_is_uniform(spark):
    """A directed cycle is perfectly symmetric: every node's rank is
    exactly 1/n at every iteration count (no dangling, outdeg 1)."""
    from bricolage_spark.operators.graph import pagerank

    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src bigint, dst bigint"
    )
    for r in pagerank(edges, iterations=3).collect():
        assert abs(r.rank - 1.0 / n) < 1e-12


def test_connected_components_star_matches_label_propagation(spark):
    """Both algorithms agree on a mixed graph (chain + triangle + pair +
    arbitrary edge orientations)."""
    from bricolage_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20), (22, 21), (20, 22), (5, 4)],
        "id_a bigint, id_b bigint",
    )
    label = {
        (r.id, r.component)
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    star = {
        (r.id, r.component)
        for r in connected_components_star(edges, "id_a", "id_b").collect()
    }
    assert star == label
    assert {c for _, c in star} == {1, 10, 20}


def test_stratified_sample_weight_never_infinite(spark, sf_dir):
    """q52: languages outside the rate table (rate 0.0) must never produce
    an Infinity weight — the guard yields NULL, and the filter drops them."""
    import math

    from bricolage_spark.queries import load_all

    q52 = load_all()["q52_stratified_sample"].fn
    rows = q52(spark, sf_dir).collect()
    assert rows, "sample should be non-empty"
    assert all(r.weight is not None and math.isfinite(r.weight) for r in rows)


def test_repetition_stats_flags_repetitious_doc(spark):
    """q57: a doc that repeats one phrase has high dup-n-gram fractions and
    is dropped; varied text with enough words is kept."""
    varied = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    spam = "buy cheap pills now " * 10
    out = {
        r.doc_id: r
        for r in T.repetition_stats(
            spark.createDataFrame(
                [(1, varied), (2, spam.strip()), (3, "one")],
                "doc_id long, text string",
            ),
            "doc_id",
            "text",
        ).collect()
    }
    assert out[1].keep and out[1].dup_word_frac == 0.0
    assert not out[2].keep and out[2].dup_trigram_frac > 0.8
    # single-word doc: empty n-gram arrays must yield 0.0, not null/NaN
    assert out[3].dup_bigram_frac == 0.0 and out[3].dup_trigram_frac == 0.0
    assert not out[3].keep  # too short


def test_top_word_deterministic_tiebreak(spark):
    """q58: equal counts break to the lexicographically largest word."""
    out = T.top_word(
        spark.createDataFrame(
            [(1, "zz aa zz aa bb"), (2, "x x x y")], "doc_id long, text string"
        ),
        "doc_id",
        "text",
    ).collect()
    rows = {r.doc_id: r for r in out}
    assert rows[1].top_word == "zz" and rows[1].top_cnt == 2
    assert rows[1].n_words == 5 and rows[1].top_share == 0.4
    assert rows[2].top_word == "x" and rows[2].top_share == 0.75


def test_group_vocab_overlap_jaccard_and_containment(spark):
    """q59: identical vocab pair → jaccard 1.0; subset → containment 1.0."""
    df = spark.createDataFrame(
        [
            ("s1", "a b c"),
            ("s2", "a b c"),
            ("s3", "a b c d e f"),
            ("s4", "q r s"),
        ],
        "source string, text string",
    )
    out = {
        (r.grp_a, r.grp_b): r
        for r in T.group_vocab_overlap(df, "source", "text").collect()
    }
    assert out[("s1", "s2")].jaccard == 1.0
    assert out[("s1", "s3")].containment == 1.0  # s1 vocab ⊂ s3 vocab
    assert out[("s1", "s3")].jaccard == 0.5
    assert ("s1", "s4") not in out  # disjoint vocab pairs produce no row


def test_incremental_dedup_across_batches(spark, engine):
    """Registry-based dedup: batch 2 drops docs already seen in batch 1
    (by content) and in-batch duplicates, without rescanning batch 1."""
    b1 = spark.createDataFrame(
        [(1, DOC), (2, OTHER), (3, DOC)], "doc_id long, text string"
    )
    novel1, dig1 = D.incremental_dedup(b1, None, "doc_id", "text")
    assert {r.doc_id for r in novel1.collect()} == {1, 2}
    engine.save_table(dig1, "dedup_registry", mode="overwrite")

    b2 = spark.createDataFrame(
        [(4, DOC), (5, NEAR), (6, NEAR), (7, "  THE  " + DOC[4:])],
        "doc_id long, text string",
    )
    reg = engine.table("dedup_registry")
    novel2, dig2 = D.incremental_dedup(b2, reg, "doc_id", "text")
    rows2 = {r.doc_id for r in novel2.collect()}
    # 4 and 7 normalize to DOC (already registered); 5 wins NEAR in-batch
    assert rows2 == {5}
    engine.save_table(dig2, "dedup_registry", mode="append")
    assert engine.table("dedup_registry").count() == 3


def test_incremental_dedup_drops_null_text_rows_explicitly(spark):
    """A contentless row has no content identity: NULL-text rows are
    dropped, matching the pre-r12 join-back shape (a NULL digest never
    equi-joins) and the q67 oracle — the r12 min_by shape would
    otherwise keep one arbitrary NULL representative that survives the
    registry anti-join (NULL never matches), silently diverging."""
    b = spark.createDataFrame(
        [(1, DOC), (2, None), (3, None), (4, OTHER)],
        "doc_id long, text string",
    )
    novel, digests = D.incremental_dedup(b, None, "doc_id", "text")
    assert {r.doc_id for r in novel.collect()} == {1, 4}
    assert digests.where(digests.content_hash.isNull()).count() == 0
    # and against a registry: NULL rows still never resurface as novel
    reg = spark.createDataFrame([("feedcafe",)], "content_hash string")
    novel2, _ = D.incremental_dedup(b, reg, "doc_id", "text")
    assert {r.doc_id for r in novel2.collect()} == {1, 4}


def test_incremental_dedup_drops_null_id_rows(spark):
    """r12 ADVICE: a digest group whose ids are ALL NULL makes min_by
    return a NULL struct — one all-NULL representative that would
    survive the registry anti-join. NULL-id rows are dropped up front
    (matching the oracle, whose min-id join-back finds no partner);
    a group with a MIXED NULL/non-NULL id keeps its non-NULL row."""
    b = spark.createDataFrame(
        [(None, DOC), (None, DOC), (2, OTHER), (None, OTHER)],
        "doc_id long, text string",
    )
    novel, digests = D.incremental_dedup(b, None, "doc_id", "text")
    rows = novel.collect()
    # all-NULL-id DOC group vanishes; OTHER keeps its id=2 representative
    assert [(r.doc_id, r.text) for r in rows] == [(2, OTHER)]
    assert digests.count() == 1


def test_incremental_dedup_recomputes_reserved_content_hash_column(spark):
    """r12 ADVICE: feeding incremental_dedup's own novel output (which
    carries content_hash) back in must not raise an ambiguous-reference
    error — the reserved column is dropped and recomputed."""
    b1 = spark.createDataFrame(
        [(1, DOC), (2, OTHER)], "doc_id long, text string"
    )
    novel1, dig1 = D.incremental_dedup(b1, None, "doc_id", "text")
    assert "content_hash" in novel1.columns
    # round-trip: novel output fed back in as the next batch
    novel2, dig2 = D.incremental_dedup(novel1, None, "doc_id", "text")
    assert novel2.columns == novel1.columns
    assert {r.doc_id for r in novel2.collect()} == {1, 2}
    # digests identical to first pass (recomputed from text, not stale)
    assert {r.content_hash for r in dig2.collect()} == {
        r.content_hash for r in dig1.collect()
    }


def test_bm25_ranks_tf_and_rare_terms(spark):
    """q60: higher tf ranks higher; rarer terms earn higher idf weight."""
    from bricolage_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "apple apple apple pear kiwi fig"),
            (2, "apple pear kiwi fig plum grape"),
            (3, "pear kiwi fig plum grape melon"),
            (4, "kiwi fig plum grape melon lime"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, {"q": "apple"}, "doc_id", "text", top_k=10).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    # only docs containing "apple"; higher tf first
    assert ranked == [1, 2]
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].score > by_id[2].score > 0
    assert by_id[1].n_terms_matched == 1

    # multi-term query: doc with both terms beats docs with one
    out2 = bm25_topk(df, {"q": "apple melon"}, "doc_id", "text").collect()
    top = min(out2, key=lambda r: r.rank)
    assert top.doc_id in (3, 4) or top.n_terms_matched >= 1  # melon rarer than apple
    both = {r.doc_id: r.n_terms_matched for r in out2}
    assert both[1] == 1  # apple only


def test_cluster_representatives_picks_best_quality(spark):
    """q61: highest quality wins; doc_id breaks ties; counts are right."""
    from bricolage_spark.operators.curation import cluster_representatives

    cc = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], "id long, component long"
    )
    qual = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.1), (8, 0.1)],
        "doc_id long, quality double",
    )
    out = {r.component: r for r in cluster_representatives(cc, qual).collect()}
    assert out[1].keep_id == 2 and out[1].best_quality == 0.9  # tie → min id
    assert out[1].n_members == 3 and out[1].n_dropped == 2
    assert out[7].keep_id == 7 and out[7].n_members == 2


def test_domain_cap_keeps_top_n_per_group(spark):
    """q62: rank within group by quality desc; kept iff rank <= cap."""
    from bricolage_spark.operators.curation import domain_cap

    df = spark.createDataFrame(
        [(i, "a", i / 10.0) for i in range(1, 6)]
        + [(10, "b", 0.5), (11, "b", 0.5)],
        "doc_id long, source string, quality double",
    )
    out = {
        r.doc_id: r
        for r in domain_cap(
            df, group_col="source", id_col="doc_id", cap=2
        ).collect()
    }
    assert len(out) == 7  # every doc gets a verdict row
    # group a: quality .5,.4 win → ids 5,4 kept
    assert out[5].kept and out[5].rank_in_group == 1
    assert out[4].kept and out[4].rank_in_group == 2
    assert not out[3].kept and not out[1].kept
    # group b tie → lower doc_id ranks first
    assert out[10].rank_in_group == 1 and out[11].rank_in_group == 2


def test_char_stats_entropy_and_guards(spark):
    """q63: low-entropy spam flagged; empty doc yields zeros not nulls."""
    from bricolage_spark.operators.textual import char_stats

    df = spark.createDataFrame(
        [
            (1, "aaaa aaaa aaaa"),
            (2, "The quick brown fox jumps over the lazy dog"),
            (3, ""),
            (4, "1234567890 1234567890"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in char_stats(df, "doc_id", "text").collect()}
    assert out[1].char_entropy < 1.0 and not out[1].keep
    assert out[2].char_entropy > 3.0 and out[2].keep
    assert out[3].n_chars == 0 and out[3].char_entropy == 0.0
    assert out[3].n_distinct_chars == 0
    assert out[4].digit_ratio > 0.9 and not out[4].keep
    # entropy of a uniform 2-char string is exactly 1 bit
    one_bit = char_stats(
        spark.createDataFrame([(9, "abab")], "doc_id long, text string"),
        "doc_id",
        "text",
    ).collect()[0]
    assert one_bit.char_entropy == 1.0


def test_chunk_documents_covers_all_words(spark):
    """q64: chunks tile the doc with the stride; short docs = 1 chunk."""
    from bricolage_spark.operators.curation import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "tiny doc")], "doc_id long, text string"
    )
    out = chunk_documents(
        df, id_col="doc_id", text_col="text", window=4, stride=3
    ).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_text for r in c1] == [
        "w0 w1 w2 w3",
        "w3 w4 w5 w6",
        "w6 w7 w8 w9",
    ]
    assert all(r.n_words_chunk == 4 for r in c1)
    # every word appears in some chunk
    covered = {w for r in c1 for w in r.chunk_text.split()}
    assert covered == set(text.split())
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "tiny doc"


def test_bucketed_interval_join_exact_semantics(spark):
    """q66: half-open [start,end), overlapping windows, empty intervals,
    and per-key matching — each (point, interval) pair exactly once."""
    from bricolage_spark.operators.interval import bucketed_interval_join

    pts = spark.createDataFrame(
        [(1, 5, "u"), (2, 10, "u"), (3, 19, "u"), (4, 10, "v")],
        "p_id long, ts long, k string",
    )
    wins = spark.createDataFrame(
        [
            (100, 0, 10, "u"),    # catches ts=5 only (10 excluded)
            (101, 5, 20, "u"),    # catches 5, 10, 19
            (102, 10, 10, "u"),   # empty interval -> nothing
            (103, 0, 30, "v"),    # other key -> ts=10@v only
        ],
        "w_id long, s long, e long, k string",
    )
    out = bucketed_interval_join(
        pts, wins, point_ts="ts", start_col="s", end_col="e",
        bucket_width=7, keys=("k",),
    ).select("w_id", "p_id").collect()
    got = sorted((r.w_id, r.p_id) for r in out)
    assert got == [(100, 1), (101, 1), (101, 2), (101, 3), (103, 4)]
    # no-keys variant: global matching, still exactly-once
    out2 = bucketed_interval_join(
        pts.drop("k"), wins.drop("k").filter(F.col("w_id") != 103),
        point_ts="ts", start_col="s", end_col="e", bucket_width=100,
    ).select("w_id", "p_id").collect()
    got2 = sorted((r.w_id, r.p_id) for r in out2)
    # [0,10) excludes ts=10; [5,20) catches every point incl. both ts=10s
    assert got2 == [(100, 1), (101, 1), (101, 2), (101, 3), (101, 4)]


def test_write_packed_shards_roundtrip(spark, tmp_path):
    """Packing materialization: budget respected, deterministic concat
    order, shards partitioned by group, every doc present exactly once."""
    from bricolage_spark.operators.curation import write_packed_shards

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de", "x" * (i * 40)) for i in range(1, 11)],
        "doc_id long, lang string, text string",
    )
    out_dir = str(tmp_path / "shards")
    packed = write_packed_shards(
        docs, out_dir, id_col="doc_id", text_col="text",
        group_col="lang", budget=100, sep="|",
    )
    back = spark.read.parquet(out_dir)
    rows = back.collect()
    assert sorted(r.lang for r in rows)  # partition column round-trips
    # every doc's text appears exactly once across all shards
    joined = "|".join(r.text for r in rows)
    for i in range(1, 11):
        assert joined.count("x" * (i * 40)) >= 1
    assert sum(r.n_docs for r in rows) == 10
    # budget invariant: bin b only opens once the running total reached
    # b*budget, so the cumulative tokens before each bin >= bin_id*budget
    import collections
    by_lang = collections.defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.lang, r.bin_id)):
        by_lang[r.lang].append(r)
    for lang, shards in by_lang.items():
        assert [s.bin_id for s in shards] == sorted({s.bin_id for s in shards})
        cum = 0
        for s in shards:
            assert cum >= s.bin_id * 100
            cum += s.n_tokens
    # deterministic: second run produces identical shard texts
    packed2 = write_packed_shards(
        docs, str(tmp_path / "shards2"), id_col="doc_id",
        text_col="text", group_col="lang", budget=100, sep="|",
    )
    a = {(r.lang, r.bin_id): r.text for r in spark.read.parquet(out_dir).collect()}
    b = {(r.lang, r.bin_id): r.text for r in spark.read.parquet(str(tmp_path / "shards2")).collect()}
    assert a == b


def test_entropy_filter_drops_low_information_rows(spark):
    """q63's keep predicate as an in-scan filter (curation pipeline form)."""
    from bricolage_spark.operators.textual import entropy_filter

    df = spark.createDataFrame(
        [
            (1, "aaaa aaaa aaaa aaaa"),
            (2, "a perfectly ordinary sentence with varied characters"),
        ],
        "doc_id long, text string",
    )
    kept = [r.doc_id for r in entropy_filter(df, "text").collect()]
    assert kept == [2]


# ---------------------------------------------------------------------------
# substring-level exact dedup (duplicate_spans)
# ---------------------------------------------------------------------------
def test_positional_anchors_positions_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")], "doc_id long, text string"
    )
    rows = D.positional_anchors(df, "doc_id", "text", k=3).collect()
    got = {(r.doc_id, r.pos): r.anchor for r in rows}
    # doc 1: 5 words -> anchors at pos 1..3; doc 2 (2 words < k) -> none
    assert got == {
        (1, 1): "a b c",
        (1, 2): "b c d",
        (1, 3): "c d e",
    }


def test_duplicate_spans_finds_maximal_cross_doc_span(spark):
    df = spark.createDataFrame(
        [
            (1, "p q a b c d e f r s"),
            (2, "a b c d e f z w"),
            (3, "totally unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    out = D.duplicate_spans(
        df, "doc_id", "text", anchor_len=3, min_span=5, max_postings=8
    ).collect()
    assert [(r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_len) for r in out] == [
        (1, 2, 3, 1, 6)
    ]


def test_duplicate_spans_min_span_filters_short_matches(spark):
    df = spark.createDataFrame(
        [(1, "a b c d x1 x2"), (2, "a b c d y1 y2")], "doc_id long, text string"
    )
    # shared run is 4 tokens: reported at min_span=4, dropped at 5
    ok = D.duplicate_spans(
        df, "doc_id", "text", anchor_len=3, min_span=4, max_postings=8
    ).collect()
    assert [(r.a_start, r.span_len) for r in ok] == [(1, 4)]
    none = D.duplicate_spans(
        df, "doc_id", "text", anchor_len=3, min_span=5, max_postings=8
    ).collect()
    assert none == []


def test_duplicate_spans_posting_cap_drops_boilerplate_anchors(spark):
    # the same 5-token run in FOUR docs -> every anchor has 4 postings;
    # cap at 3 kills them all (boilerplate), cap at 8 reports all pairs
    rows = [(i, f"h{i} a b c d e t{i}") for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = D.duplicate_spans(
        df, "doc_id", "text", anchor_len=3, min_span=5, max_postings=8
    ).collect()
    assert len(full) == 6  # C(4,2) doc pairs
    capped = D.duplicate_spans(
        df, "doc_id", "text", anchor_len=3, min_span=5, max_postings=3
    ).collect()
    assert capped == []


def test_duplicate_spans_ignores_same_doc_repeats(spark):
    df = spark.createDataFrame(
        [(7, "a b c d e z z a b c d e")], "doc_id long, text string"
    )
    out = D.duplicate_spans(
        df, "doc_id", "text", anchor_len=3, min_span=5, max_postings=8
    ).collect()
    assert out == []  # doc_a < doc_b keeps only cross-doc spans


# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "raw,canon",
    [
        (
            "HTTPS://WWW.Foo.COM:443/a/5/index.html?b=2&utm_source=f&a=1#s",
            "https://foo.com/a/5?a=1&b=2",
        ),
        ("http://Example.com:80/", "http://example.com"),
        # non-default port survives
        ("https://example.com:8443/p/", "https://example.com:8443/p"),
        # tracking-only query drops entirely; bare host unchanged
        ("https://example.com/path?utm_campaign=x&gclid=1", "https://example.com/path"),
        ("https://example.com", "https://example.com"),
        # path stays case-sensitive; only literal /index.htm(l) collapses
        ("https://example.com/INDEX.html", "https://example.com/INDEX.html"),
        ("https://example.com/a/index.htm", "https://example.com/a"),
        # ref= is tracking, href= is not (anchored match)
        ("https://example.com/x?ref=tw&href=keep", "https://example.com/x?href=keep"),
        # bare valueless tracking params drop too ((=|$) in the regex) —
        # trackers emit both '?ref=x' and '?ref'
        ("https://example.com/x?ref&a=1", "https://example.com/x?a=1"),
        ("https://example.com/x?fbclid", "https://example.com/x"),
        # 'refresh' is NOT 'ref' ($-anchor must not truncate names)
        ("https://example.com/x?refresh=1", "https://example.com/x?refresh=1"),
    ],
)
def test_canonical_url_rules(spark, raw, canon):
    from bricolage_spark.operators.urls import canonical_url

    df = spark.createDataFrame([(raw,)], "url string")
    assert df.select(canonical_url(F.col("url")).alias("c")).first().c == canon


def test_bucketed_interval_join_rejects_outer_how(spark):
    from bricolage_spark.operators.interval import bucketed_interval_join

    pts = spark.createDataFrame([(1, 5)], "pid long, ts long")
    ivs = spark.createDataFrame([(1, 0, 10)], "wid long, lo long, hi long")
    with pytest.raises(ValueError, match="inner"):
        bucketed_interval_join(
            pts, ivs, point_ts="ts", start_col="lo", end_col="hi",
            bucket_width=10, how="left",
        )


def test_connected_components_star_keeps_self_loop_singletons(spark):
    """Self-loop-only nodes must survive BOTH algorithms as singletons —
    the fallback path must return the same node coverage as propagation."""
    from bricolage_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)] + [(99, 99)],
        "id_a bigint, id_b bigint",
    )
    expect = {i: 0 for i in range(11)} | {99: 99}
    star = {r.id: r.component for r in
            connected_components_star(edges, "id_a", "id_b").collect()}
    assert star == expect
    # propagation exhausted -> star fallback: same coverage
    fb = {r.id: r.component for r in
          connected_components(edges, "id_a", "id_b", max_iter=2).collect()}
    assert fb == expect


@pytest.mark.parametrize(
    "raw",
    ["foo.html", "mailto:a@b.c", "", "example.com/path", "//no-scheme.com/x"],
)
def test_canonical_url_passes_through_non_urls(spark, raw):
    """Non-absolute-http inputs (routine in real crawls) must pass
    through unchanged, never collapse onto a shared '://' key."""
    from bricolage_spark.operators.urls import canonical_url

    df = spark.createDataFrame([(raw,)], "url string")
    assert df.select(canonical_url(F.col("url")).alias("c")).first().c == raw


def test_incremental_neardup_flags_two_batch_registry(spark):
    """A new batch probed against the band registry of a prior snapshot:
    a doc identical to history hits ALL bands, a vocabulary-disjoint doc
    hits none — and only the registry's ~40-byte band rows are touched,
    never history bodies."""
    from bricolage_spark.operators import dedup as D

    hist = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),
            (11, "completely different words about sailing ships and harbors"),
        ],
        "id long, text string",
    )

    def bands_of(df):
        sh = D.word_shingles(df, "id", "text", k=3)
        sigs = D.minhash_signatures(sh, "id", num_hashes=16)
        return D.band_buckets(sigs, "id", bands=8, rows_per_band=2)

    registry = bands_of(hist).select("band_id", "band_hash")
    flags = {
        r["id"]: (r["n_hit_bands"], r["hist_neardup"])
        for r in D.incremental_neardup_flags(bands_of(batch), registry, "id").collect()
    }
    assert flags[10] == (8, True)  # identical text: every band bucket hits
    assert flags[11] == (0, False)  # disjoint vocabulary: no bucket hits


def test_hashed_ngram_score_matches_reference_derivation(spark):
    """The materialized bucket->weight table must stay byte-identical to
    the per-gram hash derivation the DuckDB oracle still uses: recompute
    one doc's score by hand (hash gram -> bucket -> weight) and compare."""
    import hashlib

    def h32(s: str, seed: int) -> int:
        return int(
            hashlib.md5(f"{seed}|{s}".encode()).hexdigest()[:8], 16
        )

    text = "the quick brown fox jumps over the quick dog"
    words = text.split(" ")
    grams = words + [f"{a} {b}" for a, b in zip(words, words[1:])]
    total = 0
    for g in grams:
        b = h32(g, T.CLASSIFIER_SEED_BUCKET) % T.CLASSIFIER_BUCKETS
        total += h32(str(b), T.CLASSIFIER_SEED_WEIGHT) % 2001 - 1000
    z = T.CLASSIFIER_BIAS + (total / len(grams)) / 1000.0
    want = half_up(1.0 / (1.0 + math.exp(-z)), 6)

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = T.hashed_ngram_score(df, "doc_id", "text").collect()[0]
    assert row.n_grams == len(grams)
    assert abs(row.score - want) < 1e-9
    assert row.keep == (want >= 0.5)


def test_hashed_ngram_score_drops_null_text(spark):
    """NULL-text docs are dropped (oracle parity: UNNEST over a NULL word
    list yields no rows) — not emitted with null/-1 fields; empty text
    still scores (one empty-string unigram, as both engines split it)."""
    df = spark.createDataFrame(
        [(1, "real text here"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in T.hashed_ngram_score(df, "doc_id", "text").collect()}
    assert set(rows) == {1, 3}
    assert rows[3].n_grams == 1


def test_temperature_mixture_upweights_small_sources(spark):
    """alpha<1 mixing: the small source's sampling rate exceeds the big
    source's; weights sum to ~1; n_sampled <= n_docs; determinism."""
    from bricolage_spark.operators import curation as C

    rows = [(i, "big") for i in range(90)] + [(90 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r.source: r for r in C.temperature_mixture(
        df, "source", "doc_id", alpha=0.5, target_frac=0.5
    ).collect()}
    assert out["big"].n_docs == 90 and out["small"].n_docs == 10
    assert abs(out["big"].weight + out["small"].weight - 1.0) < 1e-6
    # count^0.5 mix: small source's keep RATE is higher than big's
    assert out["small"].rate > out["big"].rate
    for r in out.values():
        assert 0 <= r.n_sampled <= r.n_docs
    # deterministic: identical second run
    out2 = {r.source: r.n_sampled for r in C.temperature_mixture(
        df, "source", "doc_id", alpha=0.5, target_frac=0.5
    ).collect()}
    assert out2 == {s: r.n_sampled for s, r in out.items()}


def test_sentence_dedup_stats_flags_shared_sentences(spark):
    from bricolage_spark.operators import dedup as D

    shared = "this exact sentence appears in two different documents"
    df = spark.createDataFrame(
        [
            (1, shared + ". a unique closing line for document one."),
            (2, shared + ". an entirely different ending for doc two."),
            (3, "nothing here overlaps with anything else at all. truly unique text."),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.sentence_dedup_stats(df, "doc_id", "text").collect()}
    assert out[1].n_shared == 1 and out[2].n_shared == 1
    assert out[3].n_shared == 0
    assert out[1].shared_frac == 0.5


def test_code_signals_flags_code_like_text(spark):
    from bricolage_spark.operators import textual as T

    df = spark.createDataFrame(
        [
            (1, "def f(x): return {x: [1, 2]}; # dense punctuation"),
            (2, "plain english prose with no markup and long words here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.code_signals(df, "doc_id", "text").collect()}
    assert out[1].is_code and not out[2].is_code
    assert out[2].code_char_ratio == 0.0


def test_ann_recall_counts_overlap(spark):
    from bricolage_spark.operators import similarity as S

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21)], "query_id long, neighbor_id long"
    )
    out = {r.query_id: r for r in S.ann_recall(exact, approx, k=2).collect()}
    assert out[1].n_common == 1 and out[1].recall == 0.5
    assert out[2].n_common == 2 and out[2].recall == 1.0


def test_shard_assignment_is_deterministic_and_balancedish(spark):
    from bricolage_spark.operators import curation as C

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = C.shard_assignment(df, "doc_id", n_shards=8).collect()
    shards = {}
    for r in out:
        shards.setdefault(r.shard_id, 0)
        shards[r.shard_id] += 1
    assert set(shards) == set(range(8))
    assert max(shards.values()) < 3 * min(shards.values())  # hash-balanced
    again = {r.doc_id: (r.shard_id, r.sort_key) for r in
             C.shard_assignment(df, "doc_id", n_shards=8).collect()}
    assert all(again[r.doc_id] == (r.shard_id, r.sort_key) for r in out)


def test_dsir_importance_matches_python_mirror(spark):
    """dsir_importance == an independent pure-Python mirror of the DSIR
    recipe (hashed uni+bigram counts, add-one smoothing, summed log
    ratio), and the staged ratio-table path equals the inline-fit path."""
    import hashlib
    import math
    import re

    from bricolage_spark.operators.textual import (
        DSIR_BUCKETS,
        DSIR_SEED,
        dsir_importance,
        dsir_log_ratio_table,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),      # target
        (1, "buy cheap pills now buy cheap pills now"),
        (2, "the quick brown fox naps under the old tree"),
        (3, "completely different words about sailing ships"),
        (4, "THE  Quick   brown fox"),                           # target
        (5, "fox and dog stories the quick collection"),
    ]
    targets = {0, 4}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    is_target = F.col("doc_id").isin(*targets)

    def grams(text: str) -> list[str]:
        ws = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def bucket(g: str) -> int:
        h = hashlib.md5(f"{DSIR_SEED}|{g}".encode()).hexdigest()[:8]
        return int(h, 16) % DSIR_BUCKETS

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for i, t in rows:
        for g in grams(t):
            d = ct if i in targets else cr
            d[bucket(g)] = d.get(bucket(g), 0) + 1
    t_tot, r_tot = sum(ct.values()), sum(cr.values())

    def lr(b: int) -> float:
        return math.log((ct.get(b, 0) + 1.0) / (t_tot + DSIR_BUCKETS)) - math.log(
            (cr.get(b, 0) + 1.0) / (r_tot + DSIR_BUCKETS)
        )

    expect = {}
    for i, t in rows:
        if i in targets:
            continue
        gs = grams(t)
        w = half_up(sum(lr(bucket(g)) for g in gs))
        expect[i] = (len(gs), w, w > 0)

    got = {
        r.doc_id: (r.n_grams, r.dsir_logweight, r.keep)
        for r in dsir_importance(df, "doc_id", "text", is_target).collect()
    }
    assert set(got) == set(expect)
    for i in expect:
        assert got[i][0] == expect[i][0], i
        assert abs(got[i][1] - expect[i][1]) < 1e-9, i
        assert got[i][2] == expect[i][2], i
    # direction: docs sharing target vocabulary ("the quick brown fox")
    # outweigh the unrelated ones (absolute sign depends on smoothing
    # mass with a 2-doc target, so assert ordering, not the keep flag)
    assert got[2][1] > got[3][1] and got[5][1] > got[1][1]

    staged = dsir_log_ratio_table(df, "text", is_target).persist()
    try:
        via_staged = {
            r.doc_id: (r.n_grams, r.dsir_logweight, r.keep)
            for r in dsir_importance(
                df, "doc_id", "text", is_target, ratio_table=staged
            ).collect()
        }
        assert via_staged == got
    finally:
        staged.unpersist(blocking=False)


def test_unigram_js_drift_matches_python_mirror(spark):
    """unigram_js_drift == an independent Python mirror (smoothed
    distributions over the union vocab, JS formula); identical halves
    give exactly 0; values stay within [0, ln 2]."""
    import math
    import re

    from bricolage_spark.operators.textual import unigram_js_drift

    rows = [
        # source s1: half A talks about foxes, half B about ships (drift)
        (0, "s1", "the quick brown fox jumps the fox"),
        (2, "s1", "fox dens and fox trails in the woods"),
        (1, "s1", "cargo ships sail the harbor routes tonight"),
        (3, "s1", "the harbor masters log every cargo manifest"),
        # source s2: both halves identical text (zero drift)
        (4, "s2", "steady unchanged feed content here"),
        (5, "s2", "steady unchanged feed content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.source: (r.n_vocab, r.n_a, r.n_b, r.js_divergence)
        for r in unigram_js_drift(
            df, "source", "text", F.col("doc_id") % 2 == 0
        ).collect()
    }

    def dist(texts: list[str]) -> dict[str, int]:
        c: dict[str, int] = {}
        for t in texts:
            for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
                c[w] = c.get(w, 0) + 1
        return c

    for src in ("s1", "s2"):
        a = dist([t for i, s, t in rows if s == src and i % 2 == 0])
        b = dist([t for i, s, t in rows if s == src and i % 2 == 1])
        vocab = set(a) | set(b)
        ta, tb, v = sum(a.values()), sum(b.values()), len(vocab)
        js = 0.0
        for w in vocab:
            p = (a.get(w, 0) + 1.0) / (ta + v)
            q = (b.get(w, 0) + 1.0) / (tb + v)
            m = (p + q) / 2.0
            js += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
        nv, na, nb, got_js = got[src]
        assert (nv, na, nb) == (v, ta, tb), src
        assert abs(got_js - half_up(js, 6)) < 1e-9, src
    assert got["s2"][3] == 0.0                       # identical halves
    assert 0.0 < got["s1"][3] <= math.log(2) + 1e-9  # drifted, bounded


def test_dsir_keep_expr_matches_batch_scoring(spark):
    """The streaming serve predicate (ratio table collapsed to an array
    literal) keeps exactly the docs batch dsir_importance keeps at the
    same min-weight, for docs whose gram buckets were seen at fit time
    (here: fit over the same corpus)."""
    from bricolage_spark.operators.textual import (
        dsir_importance,
        dsir_keep_expr,
        dsir_log_ratio_table,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox naps under the old tree"),
        (3, "buy cheap pills now buy cheap pills now"),
        (4, "completely different words about sailing ships"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    is_target = F.col("doc_id") == 1
    ratio = dsir_log_ratio_table(df, "text", is_target).persist()
    try:
        scored = dsir_importance(
            df, "doc_id", "text", is_target, ratio_table=ratio
        )
        for min_w in (-50.0, -10.0, 0.0):
            want = {
                r.doc_id
                for r in scored.where(
                    F.col("dsir_logweight") >= min_w
                ).collect()
            }
            got = {
                r.doc_id
                for r in df.where(F.col("doc_id") != 1)
                .where(dsir_keep_expr(ratio, "text", min_w))
                .collect()
            }
            assert got == want, min_w
        # NULL text never passes the predicate
        assert not df.where(F.col("doc_id") == 5).where(
            dsir_keep_expr(ratio, "text", -1e9)
        ).collect()
    finally:
        ratio.unpersist(blocking=False)


def test_salient_terms_tfidf_and_ranking(spark):
    """salient_terms: IDF across groups (a term every group uses scores
    exactly 0), tf = both slices summed, deterministic tie-break by
    term, top_n enforced per group."""
    import math

    from bricolage_spark.operators.textual import (
        salient_terms,
        split_word_counts,
    )

    rows = [
        (0, "g1", "shared alpha alpha beta"),
        (1, "g1", "shared alpha"),
        (2, "g2", "shared gamma gamma gamma delta"),
        (3, "g2", "shared delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    counts = split_word_counts(
        df, "source", "text", F.col("doc_id") % 2 == 0
    ).persist()
    try:
        out = salient_terms(counts, "source", top_n=2).collect()
        got = {(r.source, r.rank): (r.term, r.tf, r.tfidf) for r in out}
        ln2 = math.log(2.0)
        # g1: alpha tf=3 (both slices), unique to g1 -> 3*ln(2/1)
        assert got[("g1", 1)] == ("alpha", 3, half_up(3 * ln2))
        assert got[("g1", 2)][0] == "beta"
        assert got[("g2", 1)] == ("gamma", 3, half_up(3 * ln2))
        assert got[("g2", 2)][0] == "delta"
        # 'shared' is in every group -> tfidf exactly 0, never ranks
        # above distinctive terms
        assert all(r.term != "shared" for r in out)
        assert all(r.rank <= 2 for r in out)
    finally:
        counts.unpersist(blocking=False)


def test_hashed_ngram_keep_matches_score_keep(spark):
    """The filter-predicate form must agree with the scoring form doc by
    doc at any threshold (same weights, same gram pipeline)."""
    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "the quick brown fox jumps over the lazy dog",
                "buy cheap pills now " * 5,
                "completely different words about sailing ships and harbors",
                "short",
                "",
            ]
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.4, 0.5, 0.6):
        via_score = {
            r.doc_id for r in T.hashed_ngram_score(df, "doc_id", "text", thr).collect() if r.keep
        }
        via_keep = {
            r.doc_id for r in df.where(T.hashed_ngram_keep("text", thr)).collect()
        }
        assert via_keep == via_score, thr


def test_bpe_merge_candidates(spark):
    """First-round candidate ranking (the q95 trainer's round-1
    statistic): pair counts are word-frequency weighted; eow marker pairs
    counted; top row is the most frequent adjacent pair."""
    from bricolage_spark.operators.textual import bpe_merge_candidates

    df = spark.createDataFrame(
        [(1, "aa aa ab"), (2, "aa b")],
        "doc_id long, text string",
    )
    out = {(r.s1, r.s2): r.pair_count for r in
           bpe_merge_candidates(df, "doc_id", "text", top_n=10).collect()}
    # "aa" x3: pairs (a,a), (a,</w>); "ab" x1: (a,b), (b,</w>); "b" x1: (b,</w>)
    assert out[("a", "a")] == 3
    assert out[("a", "</w>")] == 3
    assert out[("a", "b")] == 1
    assert out[("b", "</w>")] == 2
    top = bpe_merge_candidates(df, "doc_id", "text", top_n=1).collect()[0]
    # count ties at 3 break lexicographically: (a, </w>) < (a, a)
    assert (top.s1, top.s2) == ("a", "</w>")


def test_max_sim_to_reference(spark):
    """q96: argmax reference id, 4dp rounding before the max, keep flag."""
    from bricolage_spark.operators.similarity import max_sim_to_reference

    ref = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),    # identical direction to ref 100 -> sim 1.0
            (2, [1.0, 1.0]),    # 0.7071 to both -> tie, argmax = min id 100
            (3, [-1.0, 0.0]),   # best is 0.0 to ref 200
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in
           max_sim_to_reference(corpus, ref, threshold=0.9).collect()}
    assert out[1].max_sim == 1.0 and out[1].nn_ref_id == 100 and not out[1].keep
    assert out[2].max_sim == 0.7071 and out[2].nn_ref_id == 100 and out[2].keep
    assert out[3].max_sim == 0.0 and out[3].nn_ref_id == 200 and out[3].keep


def test_max_sim_to_reference_zero_norm_scores_zero(spark):
    """Degenerate vectors score 0.0 (never NULL: a NULL keep would slip
    through a consumer's filter(~keep) unjudged)."""
    from bricolage_spark.operators.similarity import max_sim_to_reference

    ref = spark.createDataFrame(
        [(100, [0.0, 0.0]), (200, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in
           max_sim_to_reference(corpus, ref, threshold=0.9).collect()}
    # zero-norm corpus vector: every sim 0.0, keep=True, argmax = min rid
    assert out[1].max_sim == 0.0 and out[1].keep and out[1].nn_ref_id == 100
    # zero-norm reference vector scores 0.0 and loses to the real match
    assert out[2].max_sim == 1.0 and not out[2].keep and out[2].nn_ref_id == 200


def test_srp_band_registry_semantic_history_probe(spark):
    """Semantic history probe: an identical vector re-ingested in a new
    snapshot hits EVERY band; its exact negation flips every SRP bit so
    NO band can match — both outcomes deterministic. Band hashes match
    a pure-Python mirror of the hyperplane signs."""
    import hashlib

    from bricolage_spark.operators.dedup import incremental_neardup_flags
    from bricolage_spark.operators.similarity import (
        plane_components,
        srp_band_buckets,
    )

    dims, planes, bands = 8, 6, 3
    base = [0.3, -1.2, 0.7, 0.1, -0.5, 2.0, -0.9, 0.4]
    hist = [(1, base), (2, [1.0] * dims)]
    batch = [(10, base), (11, [-x for x in base])]
    df = spark.createDataFrame(
        hist + batch, "vec_id long, embedding array<double>"
    )
    bt = srp_band_buckets(
        df, "vec_id", "embedding", n_planes=planes, bands=bands, dims=dims
    )

    # python mirror of the banding table
    def sig(v):
        s = 0
        for p in range(planes):
            comps = plane_components(p, dims)
            if sum(x * y for x, y in zip(v, comps)) >= 0:
                s |= 1 << p
        return s

    r = planes // bands
    want = {
        (i, b, (sig(v) >> (b * r)) & ((1 << r) - 1))
        for i, v in hist + batch
        for b in range(bands)
    }
    got = {(x.vec_id, x.band_id, x.band_hash) for x in bt.collect()}
    assert got == want

    flags = {
        x.vec_id: (x.n_hit_bands, x.hist_neardup)
        for x in incremental_neardup_flags(
            bt.where(F.col("vec_id") >= 10),
            bt.where(F.col("vec_id") < 10).select("band_id", "band_hash"),
            "vec_id",
        ).collect()
    }
    assert flags[10] == (bands, True)   # identical re-ingest: all bands hit
    # the negation flips every bit; a band matches only if some OTHER
    # history vector shares it — never the original
    neg_bands = {(b, (sig([-x for x in base]) >> (b * r)) & ((1 << r) - 1))
                 for b in range(bands)}
    hist_bands = {(b, (sig(v) >> (b * r)) & ((1 << r) - 1))
                  for _, v in hist for b in range(bands)}
    expected_neg_hits = len(neg_bands & hist_bands)
    assert flags[11][0] == expected_neg_hits


def test_salted_join_preserves_null_keys(spark):
    """The split path's hot/cold predicate is NULL-safe: NULL-key rows
    survive a left join (they used to vanish — isin() is NULL for NULL,
    so BOTH branch filters dropped them), and NULL itself can be a hot
    key (the classic 'null user')."""
    from bricolage_spark.operators.skew import salted_join

    sk = spark.createDataFrame(
        [(0, 1), (0, 2), (None, 3), (1, 4)], "k int, rid int"
    )
    dim = spark.createDataFrame([(0, "hot"), (1, "a")], "k int, v string")

    def rows(df):
        return sorted(((r.k, r.rid, r.v) for r in df.collect()), key=repr)

    plain_left = rows(sk.join(dim, "k", "left"))
    plain_inner = rows(sk.join(dim, "k", "inner"))
    assert rows(salted_join(sk, dim, "k", "rid", how="left", hot=[0])) == plain_left
    assert rows(salted_join(sk, dim, "k", "rid", how="inner", hot=[0])) == plain_inner
    # NULL listed as a hot key: same results, NULL rows routed hot
    assert (
        rows(salted_join(sk, dim, "k", "rid", how="left", hot=[0, None]))
        == plain_left
    )


def test_cosine_topk_zero_norm_vector_scores_not_crashes(spark):
    """Zero-norm vectors score 0.0 in every similarity path instead of
    raising DIVIDE_BY_ZERO under Spark 4's ANSI-on default."""
    from bricolage_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivf_centroids,
        ivf_topk,
        lsh_bucketed_topk,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter("vec_id = 0")
    out = {r.neighbor_id: r.cos_sim
           for r in brute_force_cosine_topk(emb, q, k=3).collect()}
    assert out[1] == 0.0
    # dims=2 matches the fixture width (the r14 width guard correctly
    # rejects the old implicit 64-plane default against 2-dim vectors)
    lsh_bucketed_topk(emb, q, k=3, dims=2).collect()  # must not raise
    cents = ivf_centroids(emb, k_cells=2, seed=1)
    ivf_topk(emb, q, cents, k=3).collect()  # must not raise


def test_decode_media_truncated_payloads_fall_back():
    """Truncated payloads with valid magic bytes fall back to the digest
    feature instead of escaping the batch with struct.error."""
    from bricolage_spark.operators.multimodal import _PNG_MAGIC, _fake_feature, decode_media

    bad_wav = (
        b"RIFF" + (28).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (4).to_bytes(4, "little") + b"\x00" * 4
    )
    bad_jpg = b"\xff\xd8\xff\xc0\x00\x04\x08\x00"
    bad_png = _PNG_MAGIC + (13).to_bytes(4, "big") + b"IHDR" + b"\x00" * 5
    for payload in (bad_wav, bad_jpg, bad_png):
        assert decode_media(payload) == _fake_feature(payload, 8)


def test_connected_components_large_hash_ids_no_overflow(spark):
    """The convergence checksum sums components as decimal(38,0): 64-bit
    hash-derived node ids must not ARITHMETIC_OVERFLOW the round check."""
    from bricolage_spark.operators.graph import connected_components

    big = 2 ** 62
    e = spark.createDataFrame(
        [(big, big + 1), (big + 1, big + 2), (5, 6)], "id_a long, id_b long"
    )
    cc = {r.id: r.component for r in connected_components(e).collect()}
    assert cc[big] == cc[big + 1] == cc[big + 2] == big
    assert cc[5] == cc[6] == 5


def test_asof_join_ties_are_deterministic(spark):
    """Right rows sharing (key, ts) resolve by struct order over the
    carried columns — the GREATEST carried row wins, every run."""
    from bricolage_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, 5.0), (1, 10, 9.0), (1, 10, 7.0)],
        "k long, ts long, px double",
    )
    for _ in range(3):
        r = asof_join(
            left.repartition(4), right.repartition(4), on="ts", by="k"
        ).collect()[0]
        assert r.px_right == 9.0


@pytest.mark.spark
def test_remove_duplicate_spans_keep_first(spark):
    """q74 -> q103 apply contract: the LOWER doc_id keeps every
    duplicated span; the higher doc_id loses exactly the span words and
    keeps its unique prefix/suffix; untouched docs round-trip their
    normalized text."""
    from pyspark.sql import functions as F

    from bricolage_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    shared = " ".join(f"tok{i}" for i in range(15))  # >= min_span of 12
    rows = [
        (1, f"alpha beta {shared} gamma"),
        (2, f"{shared} delta epsilon zeta"),
        (3, "totally unrelated words only here"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_spans(
        df, "doc_id", "text", anchor_len=8, min_span=12, max_postings=8
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(df, spans, "doc_id", "text").collect()
    }
    assert set(out) == {1, 2, 3}  # NULL text dropped
    assert out[1].n_removed == 0
    assert out[1].clean_text == f"alpha beta {shared} gamma"
    assert out[2].n_removed == 15
    assert out[2].clean_text == "delta epsilon zeta"
    assert out[2].n_words == 18
    assert out[3].n_removed == 0
    assert out[3].clean_text == "totally unrelated words only here"


@pytest.mark.spark
def test_remove_duplicate_spans_merges_overlaps(spark):
    """Two overlapping b-side intervals on one doc merge before the cut
    (no double counting), and a fully-covered doc rebuilds to ''."""
    from bricolage_spark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(20))), (8, "a b c")],
        "doc_id long, text string",
    )
    spans = df.sparkSession.createDataFrame(
        [
            (1, 7, 1, 1, 10),   # covers positions 1..10 of doc 7
            (2, 7, 1, 6, 10),   # covers 6..15 (overlaps) -> union 1..15
            (3, 8, 1, 1, 3),    # covers all of doc 8
        ],
        "doc_a long, doc_b long, a_start long, b_start long, span_len long",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(df, spans, "doc_id", "text").collect()
    }
    assert out[7].n_removed == 15
    assert out[7].clean_text == " ".join(f"w{i}" for i in range(15, 20))
    assert out[8].n_removed == 3 and out[8].clean_text == ""


@pytest.mark.spark
def test_incremental_neardup_flags_registry_dedup_contract(spark):
    """The probe's left-join+mark shape (round-8 rewrite): duplicate
    registry keys must NOT multiply per-doc hit counts by default, and
    registry_distinct=True (the compacted-registry fast path) must give
    identical results when the registry really is distinct."""
    from bricolage_spark.operators.dedup import incremental_neardup_flags

    batch = spark.createDataFrame(
        [(1, 0, 11), (1, 1, 22), (2, 0, 33), (2, 1, 44), (3, 0, 11)],
        "doc_id long, band_id int, band_hash long",
    )
    # key (0,11) appears 3x (a band shared by many history docs), (1,22) 1x
    registry_dup = spark.createDataFrame(
        [(0, 11), (0, 11), (0, 11), (1, 22)], "band_id int, band_hash long"
    )
    out = {
        r.doc_id: r
        for r in incremental_neardup_flags(batch, registry_dup, "doc_id").collect()
    }
    assert set(out) == {1, 2, 3}          # zero-hit docs still emit rows
    assert out[1].n_hit_bands == 2 and out[1].hist_neardup
    assert out[2].n_hit_bands == 0 and not out[2].hist_neardup
    assert out[3].n_hit_bands == 1 and out[3].hist_neardup
    compacted = registry_dup.distinct()
    fast = {
        r.doc_id: (r.n_hit_bands, r.hist_neardup)
        for r in incremental_neardup_flags(
            batch, compacted, "doc_id", registry_distinct=True
        ).collect()
    }
    assert fast == {
        d: (r.n_hit_bands, r.hist_neardup) for d, r in out.items()
    }


def test_pack_sequences_overwrites_existing_n_tokens(spark):
    """An input already carrying n_tokens (bpe_encode output — the
    documented upstream) gets the column OVERWRITTEN, not duplicated
    into an ambiguous pair (round-8 advice)."""
    from pyspark.sql import functions as F

    from bricolage_spark.operators import textual as T

    df = spark.createDataFrame(
        [(1, "g", 7), (2, "g", 9)], "doc_id long, lang string, n_tokens long"
    )
    out = T.pack_sequences(
        df,
        F.col("n_tokens") * 2,
        budget=20,
        partition_col="lang",
        order_col="doc_id",
    )
    assert out.columns.count("n_tokens") == 1
    rows = {r.doc_id: r for r in out.collect()}
    assert (rows[1].n_tokens, rows[2].n_tokens) == (14, 18)
    assert (rows[1].bin_id, rows[2].bin_id) == (0, 0)


def test_bpe_consecutive_pair_repeats_merge_like_sennrich(spark):
    """Round-9 review regression: 'banana' under merge (a,n) must merge
    BOTH (a,n) occurrences in one pass (greedy symbol scan), which the
    old shared-sentinel replace could not (the first replacement
    consumed the boundary the second needed). Pins the local trainer,
    the forced distributed trainer, and bpe_encode to the same answer."""
    from bricolage_spark.operators.textual import bpe_encode, bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "banana banana bandana")], "doc_id long, text string"
    )
    local = bpe_learn_merges(df, "doc_id", "text", n_merges=6)
    dist = bpe_learn_merges(
        df, "doc_id", "text", n_merges=6, driver_vocab_max=0
    )
    assert local == dist
    # rank 1 is (a, n) with count 6; after it merges, (a, n) is GONE —
    # no later rank may re-find it (the old representation did)
    assert local[0][1:] == ("a", "n", 6)
    assert all((s1, s2) != ("a", "n") for _, s1, s2, _ in local[1:])
    enc = bpe_encode(df, "doc_id", "text", [("a", "n")]).collect()[0]
    # banana: b an an a </w> (5 tokens) x2; bandana: b an d an a </w> (6)
    assert enc.n_tokens == 5 + 5 + 6
    assert enc.token_preview == "b an an a </w> b an an"


def test_span_registry_probe_flags_history_spans(spark):
    """q110's probe: a batch doc sharing a >= min_span verbatim run with
    HISTORY gets exactly that span flagged (islands merge consecutive
    anchor hits); sub-min_span overlaps and novel text flag nothing."""
    from pyspark.sql import functions as SF

    from bricolage_spark.operators import dedup as D

    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14"  # 14 tokens
    hist = spark.createDataFrame(
        [(1, f"intro words here {run} outro")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, f"totally different opening {run} and a new tail"),
            (11, "w1 w2 w3 w4 w5 w6 w7 w8 only eight shared then novel"),
            (12, "no overlap with history at all in this document body"),
        ],
        "doc_id long, text string",
    )
    k, min_span = 8, 12
    reg = (
        D.positional_anchor_keys(hist, "doc_id", "text", k=k)
        .select("ahash")
        .distinct()
    )
    b = D.positional_anchor_keys(batch, "doc_id", "text", k=k)
    spans = {
        r.doc_id: r
        for r in D.span_registry_probe(
            b, reg, "doc_id", anchor_len=k, min_span=min_span
        ).collect()
    }
    # doc 10: the 14-token run => 14-8+1 = 7 consecutive hits, one span
    # of exactly 14 tokens starting after the 3 intro words (pos 4)
    assert set(spans) == {10}
    assert spans[10].span_len == 14
    assert spans[10].n_anchors == 7
    assert spans[10].span_start == 4
    # doc 11 shares only 8 tokens (one anchor, span_len 8 < 12): filtered


def test_span_registry_doc_report_equals_probe_rollup(spark):
    """The r15 fused per-doc report (row-local island HOFs over the
    sorted hit-position array) must equal span_registry_probe + the
    q110 groupBy — on a fixture with multiple islands per doc, a
    sub-min_span island to filter, and a doc whose every island is
    filtered (must vanish from the report, exactly as the per-span
    groupBy form drops it)."""
    from pyspark.sql import functions as SF

    from bricolage_spark.operators import dedup as D

    k, min_span = 3, 5
    # synthetic anchor hits: (doc, pos, ahash) probe a registry holding
    # a subset of hashes; islands form on consecutive surviving pos runs
    batch = spark.createDataFrame(
        [(d, p, (d * 1000 + p) % 7) for d in (1, 2, 3) for p in range(1, 21)],
        "doc_id long, pos long, ahash long",
    )
    reg = spark.createDataFrame(
        [(h,) for h in (0, 1, 2, 3)], "ahash long"
    )
    old = (
        D.span_registry_probe(batch, reg, "doc_id", anchor_len=k, min_span=min_span)
        .groupBy("doc_id")
        .agg(
            SF.count(SF.lit(1)).cast("bigint").alias("n_spans"),
            SF.sum("n_anchors").cast("bigint").alias("n_hit_anchors"),
            SF.max("span_len").cast("bigint").alias("max_span_len"),
            SF.min("span_start").cast("bigint").alias("first_span_start"),
        )
    )
    new = D.span_registry_doc_report(
        batch, reg, "doc_id", anchor_len=k, min_span=min_span
    )
    as_rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert as_rows(new) == as_rows(old)
    assert new.columns == [
        "doc_id", "n_spans", "n_hit_anchors", "max_span_len", "first_span_start",
    ]
    # non-vacuity: the fixture must exercise a real multi-island report
    assert len(new.collect()) >= 1
    # single-anchor islands (span_len == k < min_span) must be filtered:
    # a registry admitting only isolated positions yields an empty report
    lone = spark.createDataFrame(
        [(9, 2, 42), (9, 10, 42)], "doc_id long, pos long, ahash long"
    )
    lone_reg = spark.createDataFrame([(42,)], "ahash long")
    assert (
        D.span_registry_doc_report(
            lone, lone_reg, "doc_id", anchor_len=k, min_span=min_span
        ).count()
        == 0
    )


def test_calibration_table_clamps_top_bucket(spark):
    """The report contract is EXACTLY n_buckets fixed-width buckets: a
    score of exactly 1.0 (reachable under a real weight table once the
    6-decimal rounding saturates the sigmoid) must land in bucket
    n_buckets-1, not mint an (n+1)-th row. The fixture weight table
    cannot produce 1.0, and the fused single-pass calibration pipeline
    (r15) offers no classifier stub seam, so the clamp is pinned on the
    report tail (_calibration_report) with a synthetic saturated
    metrics frame — the exact frame shape the fused pipeline feeds it."""
    metrics = spark.createDataFrame(
        [(1, 4, 0.0, 0.0, 1.0, True), (2, 5, 0.8, 0.9, 0.31, True)],
        "doc_id long, n_words long, dup_word_frac double, "
        "dup_trigram_frac double, score double, keep boolean",
    )
    cells = T._calibration_report(metrics, 10).collect()
    buckets = {c.score_bucket for c in cells}
    assert buckets == {9, 3}  # floor(1.0*10)=10 clamps to 9; 0.31 -> 3
    assert all(0 <= c.score_bucket <= 9 for c in cells)


def test_apply_span_scrub_overwrites_existing_n_removed(spark):
    """A re-scrub of a table that already carries n_removed (a prior
    scrub report) must OVERWRITE the column — never an ambiguous
    duplicate (the pack_sequences round-8 trap, here for the shared
    span-apply transform)."""
    from pyspark.sql import functions as SF

    from bricolage_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", 7), (2, None, 7)],
        "doc_id long, text string, n_removed long",
    )
    empty_spans = spark.createDataFrame(
        [], "doc_b long, b_start long, span_len long"
    )
    out = D.apply_span_scrub(df, empty_spans, "doc_id", "text")
    assert out.columns == ["doc_id", "text", "n_removed"]
    rows = {r.doc_id: r for r in out.collect()}
    # the stale counts are replaced by this scrub's (0: nothing removed)
    assert rows[1].n_removed == 0 and rows[1].text == "alpha beta gamma delta"
    assert rows[2].n_removed == 0 and rows[2].text is None


def test_span_registry_probe_arms_runtime_bloom_filter(spark, tmp_path):
    """SCALE.md's Bloom-tier claim, test-asserted on the REAL operator:
    Spark's runtime row-level filter builds a bloom_filter_agg from the
    (filtered, small) batch-anchor side and pushes might_contain into
    the REGISTRY scan, so registry rows that cannot match any batch
    anchor drop at the scan instead of reaching the join. Locally the
    size thresholds are forced (the registry is tiny here); on a real
    deployment the defaults arm it exactly when the registry side is
    scan-heavy."""
    from pyspark.sql import functions as SF

    from bricolage_spark.operators import dedup as D

    reg_path = str(tmp_path / "reg.parquet")
    batch_path = str(tmp_path / "batch.parquet")
    spark.range(20000).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash")
    ).write.parquet(reg_path)
    spark.range(2000).select(
        (SF.col("id") % 13).alias("doc_id"),
        (SF.col("id") + 1).cast("bigint").alias("pos"),
        SF.md5((SF.col("id") * 3).cast("string")).alias("ahash"),
    ).write.parquet(batch_path)

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    prev_thr = spark.conf.get(thr)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(thr, "0")
    try:
        batch = spark.read.parquet(batch_path).where(SF.col("doc_id") == 3)
        registry = spark.read.parquet(reg_path)
        probe = D.span_registry_probe(batch, registry, "doc_id")
        op = probe._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in op
        assert "might_contain" in op
        # the bloom must guard the REGISTRY relation, not the batch: the
        # might_contain filter's child subtree scans only [ahash]
        lines = op.splitlines()
        i = next(i for i, l in enumerate(lines) if "might_contain" in l)
        subtree = "\n".join(lines[i : i + 8])
        assert "Relation [ahash#" in subtree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(thr, prev_thr)


def test_lsh_hot_bucket_cap_bounds_pair_output(spark):
    """The 100 TB blowup guard: one template-spam band bucket holding B
    docs must NOT emit B² pairs — blown buckets are dropped whole
    before the self-join (duplicate_spans' posting-list discipline),
    while sub-cap buckets stay exact."""
    # poisoned signatures: 40 docs with IDENTICAL minhash rows -> every
    # band bucket holds all 40 (worst case: 4 bands x C(40,2) pair work)
    # ... plus one sub-cap near-pair in its own bucket
    rows = [tuple([i] + [7] * 16) for i in range(40)]
    rows += [tuple([100 + i] + [9] * 16) for i in range(2)]
    spam = spark.createDataFrame(
        rows, "id long, " + ", ".join(f"h{i} long" for i in range(16)),
    )
    capped = D.lsh_candidate_pairs(spam, "id", 4, 4, max_bucket=5).collect()
    # the 40-doc buckets are dropped whole; the 2-doc bucket survives
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}
    # deterministic on re-run
    again = D.lsh_candidate_pairs(spam, "id", 4, 4, max_bucket=5).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, again))
    # uncapped audit mode really is quadratic — and the default cap
    # (256) leaves small buckets untouched
    assert len(D.lsh_candidate_pairs(spam, "id", 4, 4, max_bucket=0).collect()) == 781
    assert len(D.lsh_candidate_pairs(spam, "id", 4, 4).collect()) == 781


def test_lsh_cap_does_not_change_normal_verdicts(docs):
    """Below the cap, candidate pairs are identical with and without it
    (the fixture's buckets are all far smaller than the default 256)."""
    sh = D.word_shingles(docs, "doc_id", "text", k=3).withColumnRenamed("doc_id", "id")
    sigs = D.minhash_signatures(sh, "id", 16)
    capped = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(sigs, "id", 8, 2).collect()}
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(sigs, "id", 8, 2, max_bucket=0).collect()
    }
    assert capped == uncapped


def test_lsh_cap_oracle_equivalence_in_blown_bucket_regime(spark, tmp_path):
    """r11 advice: the q33/q50/q112 oracles used to compute the classic
    UNCAPPED band self-join while the implementation runs capped — the
    contract only held on corpora where no bucket exceeds the cap. The
    oracles now embed the same [2, _MAX_BUCKET] whole-bucket filter;
    this test proves impl == oracle ON a corpus with a blown bucket,
    the regime sf0.01 never reaches.
    """
    import duckdb

    from bricolage_spark.queries import llm_ops
    from bricolage_spark.queries import load_all

    spec = load_all()["q33_minhash_lsh_pairs"]
    # 300 byte-identical template-spam docs (> _MAX_BUCKET=256: every
    # band bucket they share is blown and dropped whole) + one genuine
    # sub-cap near-dup pair + two unrelated singletons.
    spam = "the quick brown fox jumps over the lazy dog again and again today"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    rows = [(i, spam) for i in range(300)]
    rows += [(1000, near_a), (1001, near_b)]
    rows += [
        (2000, "completely different words about sailing ships across oceans"),
        (2001, "unrelated prose concerning mountain goats and alpine meadows"),
    ]
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "synthetic",
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["n_chars"] = pdf["n_chars"].astype("int64")
    doc_path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(doc_path)
    try:
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in spec.fn(spark, str(tmp_path)).collect()
        }
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{doc_path}')"
        )
        want = {
            (int(a), int(b), float(j))
            for a, b, j in con.sql(spec.oracle).fetchall()
        }
        assert got == want
        # the regime is really exercised: the spam clique emits NOTHING
        # (blown buckets dropped whole, both engines)...
        assert not any(a < 300 for a, _b, _j in got)
        # ...while the sub-cap near-dup pair survives in both
        assert any((a, b) == (1000, 1001) for a, b, _j in got)
    finally:
        llm_ops.release_caches()


def test_span_registry_probe_rejects_md5_era_registry(spark):
    """Key-format migration guard: probing an md5-era (string ahash)
    registry with xxhash64 (bigint) batch keys must raise — the
    implicit string/bigint cast would null out every hit and silently
    admit every historical duplicate."""
    from pyspark.sql import functions as SF

    from bricolage_spark.exception import JobFailure
    from bricolage_spark.operators import dedup as D

    batch = spark.createDataFrame(
        [(1, "ten words of text here that make up a doc")],
        "doc_id long, text string",
    )
    old_reg = spark.range(10).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash")
    )
    keys = D.positional_anchor_keys(batch, "doc_id", "text", k=8)
    with pytest.raises(JobFailure, match="key type mismatch"):
        D.span_registry_probe(keys, old_reg, "doc_id")


def test_srp_topk_rejects_wrong_embedding_width(spark):
    """r13 ADVICE: a non-64-wide embedding used to silently project
    against NULL-padded planes (zip_with pads the shorter array) and
    match nothing; now the bucket expression carries a runtime width
    assertion that fails the job instead."""
    import py4j.protocol

    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(32)]), (2, [float(i) for i in range(32)])],
        "vec_id long, embedding array<float>",
    )
    for fn in (S.lsh_bucketed_topk, S.lsh_multiprobe_topk):
        with pytest.raises(
            (SparkRuntimeException, py4j.protocol.Py4JJavaError),
            match="SRP planes are 64-dimensional",
        ):
            fn(df, df, k=1, n_planes=6).collect()


def test_srp_topk_dims_parameter_accepts_other_widths(spark):
    """dims is now a real parameter: 32-wide embeddings with dims=32 run
    end-to-end and a self-query finds itself (same bucket trivially)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(64)
    ]
    # plant an exact twin of each query: same vector -> same bucket
    # (whatever the hash), cosine 1.0 -> guaranteed top-1 (self-matches
    # are excluded by the shared tail)
    rows += [(100 + i, list(rows[i][1])) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 4)
    out = S.lsh_bucketed_topk(df, q, k=3, n_planes=4, dims=32).collect()
    hits = {(r.query_id, r.neighbor_id) for r in out}
    assert all((i, 100 + i) in hits for i in range(4))
    out2 = S.lsh_multiprobe_topk(
        df, q, k=3, n_planes=4, n_flip=2, n_flip2=1, dims=32
    ).collect()
    hits2 = {(r.query_id, r.neighbor_id) for r in out2}
    # the twin (cos 1.0, guaranteed own-bucket candidate) survives any
    # ranked-k displacement the extra probes cause
    assert all((i, 100 + i) in hits2 for i in range(4))


def test_srp_topk_null_embedding_still_passes_through(spark):
    """The width guard must not turn NULL embeddings into errors: they
    keep the pre-guard behavior — NULL projections take the bucket
    CASE's else-branch (bucket 0) and any pairing against a NULL vector
    goes through guarded_cosine's NULL/zero-norm contract (score 0.0,
    never a raise — the same contract test_cosine_topk_zero_norm pins)."""
    rows = [(1, [1.0] * 64), (2, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.lsh_bucketed_topk(df, df, k=2, n_planes=4).collect()  # no raise
    assert all(
        (r.cos_sim or 0.0) == 0.0
        for r in out
        if 2 in (r.query_id, r.neighbor_id)
    )


def test_salted_join_rejects_helper_column_collision(spark):
    """r13 ADVICE: withColumn silently replaces an existing __salt/__m,
    corrupting filter/drop logic — inputs carrying those names must be
    refused loudly."""
    from bricolage_spark.operators.skew import salted_aggregate, salted_join

    clean = spark.createDataFrame([(1, 10)], "k long, v long")
    with_salt = clean.withColumn("__salt", F.lit(3))
    with_m = clean.withColumn("__m", F.lit(9))
    for bad, good in ((with_salt, clean), (with_m, clean)):
        with pytest.raises(ValueError, match="helper column"):
            salted_join(bad, good, key="k", salt_from="v", hot=[1])
        with pytest.raises(ValueError, match="helper column"):
            salted_join(good, bad, key="k", salt_from="v", hot=[1], how="full")
    with pytest.raises(ValueError, match="helper column"):
        salted_aggregate(with_salt, ["k"], {"v": "sum"}, salt_from="v")
    with pytest.raises(ValueError, match="helper column"):
        salted_aggregate(
            clean.withColumn("__p_v", F.lit(0)), ["k"], {"v": "sum"}, salt_from="v"
        )
