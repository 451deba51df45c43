"""Tests for the LLM-pipeline operators: text analysis, dedup, similarity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from zarr_climate_etl_ipfs_spark.operators import dedup, similarity, textanalysis

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# -- text analysis -----------------------------------------------------------


def test_token_count_matches_python(spark, docs):
    rows = docs.select("doc_id", "text", textanalysis.token_count("text").alias("n")).collect()
    for r in rows[:50]:
        assert r["n"] == len(r["text"].split()), r["doc_id"]


def test_token_count_empty_string(spark):
    df = spark.createDataFrame([("",), ("   ",), ("one two",)], "text string")
    got = [r["n"] for r in df.select(textanalysis.token_count("text").alias("n")).collect()]
    assert got == [0, 0, 2]


def test_quality_score_bounds(docs):
    stats = docs.select(textanalysis.quality_score("text").alias("q")).agg(
        F.min("q"), F.max("q")
    ).first()
    assert 0.0 <= stats[0] <= stats[1] <= 1.0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("different",)], "text string"
    )
    fps = [r["fp"] for r in df.select(textanalysis.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_symspell_keys_edit_distance_one_completeness(spark):
    """The candidate join has PERFECT RECALL at Levenshtein 1 (every true
    pair shares a delete-neighborhood key) but NOT perfect precision
    (transpositions like abc/acb collide at distance 2) — both directions
    checked exhaustively over a small alphabet, so the exact-distance
    verify in typo_candidate_pairs is provably load-bearing, not a
    redundant filter."""
    import itertools

    words = ["".join(p) for n in (3, 4) for p in itertools.product("abc", repeat=n)]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = df.select("w", textanalysis.symspell_keys("w").alias("k")).collect()
    keys = {r["w"]: set(r["k"]) for r in rows}

    def lev1(a, b):
        if a == b:
            return False
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) == 1
        s, t = (a, b) if la < lb else (b, a)
        return any(t[:i] + t[i + 1 :] == s for i in range(len(t)))

    false_candidates = 0
    for a, b in itertools.combinations(words, 2):
        expected = lev1(a, b)
        candidate = bool(keys[a] & keys[b])
        if expected:
            assert candidate, (a, b)  # perfect recall: no true pair missed
        elif candidate:
            false_candidates += 1  # collision beyond distance 1
    # the converse direction genuinely fails (abc/acb share 'ab') — if this
    # ever hits zero the verify step's justification needs re-examination
    assert false_candidates > 0
    assert keys["abc"] & keys["acb"] and not lev1("abc", "acb")


def test_symspell_keys_short_words_no_degenerate_empty_key(spark):
    """Words shorter than 2 chars emit ONLY their identity key: their sole
    delete is '' — one degenerate key shared by the whole length-≤1
    vocabulary (a join hot-spot) — and Spark's sequence(1, 0) counts DOWN,
    which used to fabricate junk '' keys for them (round-13 advice)."""
    df = spark.createDataFrame([("a",), ("",), ("ab",), (None,)], "w string")
    rows = {r["w"]: (list(r["k"]) if r["k"] is not None else None) for r in
            df.select("w", textanalysis.symspell_keys("w").alias("k")).collect()}
    assert rows["a"] == ["a"]          # no '' delete key
    assert rows[""] == [""]            # identity only, no sequence(1,0) junk
    assert sorted(rows["ab"]) == ["a", "ab", "b"]  # ≥2 chars: full deletes
    assert rows[None] is None          # NULL word -> NULL keys, never [NULL]


def test_predict_language_deterministic(spark):
    df = spark.createDataFrame(
        [("the cat is in the house and it is big",), ("el gato es un animal de la casa",)],
        "text string",
    )
    langs = [r["l"] for r in df.select(textanalysis.predict_language("text").alias("l")).collect()]
    assert langs[0] == "en"
    assert langs[1] == "es"


# -- dedup -------------------------------------------------------------------


def test_exact_dedup_removes_copies(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha  beta gamma"), (3, "unique doc here")],
        "doc_id long, text string",
    )
    kept = dedup.dedup_exact(df, "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    groups = dedup.exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1 and groups[0]["dup_ids"] == [1, 2]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = df.select(dedup.shingles("text", 3).alias("s")).collect()
    assert got[0]["s"] == ["a b c", "b c d"]
    assert got[1]["s"] == []


def test_minhash_lsh_finds_near_dups(spark):
    base = " ".join(f"word{i}" for i in range(30))  # 28 shingles
    near = base.replace("word15", "changed")  # jaccard ≈ 25/31 ≈ 0.8
    far = "completely different content with no overlap whatsoever in any shingle xyz"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    cands = dedup.lsh_candidate_pairs(df, "doc_id", "text", n_hashes=16, bands=8)
    pairset = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairset
    assert (1, 3) not in pairset and (2, 3) not in pairset
    jac = dedup.jaccard_pairs(df, cands, "doc_id", "text")
    row = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac.collect()}[(1, 2)]
    assert 0.6 < row < 1.0


def test_dedup_minhash_keeps_lower_id(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [(10, base), (20, base), (30, "other words entirely distinct from those")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_minhash(df, "doc_id", "text").collect())
    assert kept == [10, 30]


def test_lsh_degenerate_corpus_star_links(spark):
    """1k identical docs land in one LSH bucket: with the bucket cap the
    pair stage emits 999 star links (rep ↔ member), not 499,500 all-pairs,
    and dedup still collapses the corpus to one representative + outlier."""
    base = "the very same document body repeated many times over and over again"
    rows = [(i, base) for i in range(1000)] + [(5000, "an entirely different outlier text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = dedup.lsh_candidate_pairs(df, "doc_id", "text", n_hashes=8, bands=4, bucket_cap=64)
    pairs = cands.collect()
    assert len(pairs) == 999  # linear, not quadratic
    assert all(r["id_a"] == 0 for r in pairs)  # star on the min id
    kept = sorted(r["doc_id"] for r in dedup.dedup_minhash(df, "doc_id", "text").collect())
    assert kept == [0, 5000]


def test_lsh_small_buckets_still_all_pairs(spark):
    """Under the cap the exhaustive within-bucket pair listing is unchanged."""
    base = " ".join(f"word{i}" for i in range(30))
    docs = [(i, base) for i in (1, 2, 3)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(df, "doc_id", "text", n_hashes=8, bands=4).collect()
    }
    assert pairs == {(1, 2), (1, 3), (2, 3)}


def test_simhash_near_duplicates(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w30", "w30x")  # one word differs
    far = " ".join(f"z{i}" for i in range(60))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id long, text string")
    pairs = dedup.simhash_near_duplicates(df, "doc_id", "text", max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_hamming_blocked_pairs_star_cap(spark):
    """Hot-bucket guard: identical signatures beyond bucket_cap switch to
    star linking — every member still pairs with the min-id representative
    (component survives), with exact hamming on the emitted pairs."""
    from pyspark.sql import functions as F

    sigs = [(i, 0b1010101) for i in range(1, 8)] + [(99, 0b1010100)]
    df = spark.createDataFrame(sigs, "id long, sh long")
    got = dedup.hamming_blocked_pairs(df, max_hamming=2, bits=56, bucket_cap=3)
    rows = {(r["id_a"], r["id_b"]): (r["hamming"], r["is_star"]) for r in got.collect()}
    # star pairs: representative 1 linked to every other member of the hot bucket
    for i in range(2, 8):
        assert rows.get((1, i)) == (0, True)
    # non-hot doc still reachable through its own (block, bits) buckets
    assert (1, 99) in rows and rows[(1, 99)][0] == 1
    # exhaustive intra-bucket listing suppressed beyond the cap
    assert (2, 3) not in rows

    exact = dedup.hamming_blocked_pairs(df, max_hamming=2, bits=56, bucket_cap=None)
    assert exact.count() == 7 * 6 // 2 + 7  # all pairs + the 99 links
    assert not any(r["is_star"] for r in exact.collect())


def test_hamming_star_edges_survive_budget(spark):
    """A hot-bucket member whose distance to the representative exceeds
    max_hamming keeps its structural star link (flagged is_star=true) —
    downstream connected-component dedup retains the bucket's linkage.
    Regression for the round-2 recall loss where star edges were filtered
    by hamming <= max_hamming."""
    # 5 docs share block 0 (low 28 bits identical) but ids 4/5 differ from
    # the rep (id 1) by 4 bits in the high block — beyond max_hamming=2.
    low = 0b1111
    far = (0b11110000 << 28) | low
    sigs = [(1, low), (2, low), (3, low), (4, far), (5, far)]
    df = spark.createDataFrame(sigs, "id long, sh long")
    got = dedup.hamming_blocked_pairs(df, max_hamming=1, bits=56, bucket_cap=3)
    rows = {(r["id_a"], r["id_b"]): (r["hamming"], r["is_star"]) for r in got.collect()}
    # block 0 bucket holds all 5 -> hot; star links 1->{2..5} regardless of budget
    assert rows.get((1, 4)) == (4, True)
    assert rows.get((1, 5)) == (4, True)
    assert (1, 2) in rows and (1, 3) in rows
    # verified-only consumers can still filter the flag
    verified = {k for k, (h, s) in rows.items() if not s or h <= 1}
    assert (1, 4) not in verified


def _uf_components(n_edges):
    """Reference union-find over a pair list — the ground truth."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_random_graph(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(df).collect()
    }
    assert got == _uf_components(edges)


def test_connected_components_long_chain(spark):
    """A 400-node chain — the diameter-bound worst case where naive label
    propagation needs 400 rounds; star alternation must converge in
    O(log n) (max_iterations=12 would already fail a propagation scheme)."""
    edges = [(i, i + 1) for i in range(400)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = dedup.connected_components(df, max_iterations=12)
    rows = got.collect()
    assert len(rows) == 401
    assert all(r["component"] == 0 for r in rows)


def test_connected_components_separate_clusters(spark):
    edges = [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in dedup.connected_components(df).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_md5int_portable_against_duckdb():
    import duckdb

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    df = spark.createDataFrame([("abc",), ("xyz",), ("",)], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", dedup.md5int(F.col("s")).alias("h")).collect()}
    for s, h in got.items():
        dd = duckdb.sql(f"SELECT CAST(concat('0x', substr(md5('{s}'),1,14)) AS BIGINT)").fetchone()[0]
        assert h == dd, s


# -- similarity --------------------------------------------------------------


def test_brute_force_topk_self_is_top(spark, embeddings):
    query = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.brute_force_topk(embeddings, query, k=5).collect()
    assert top[0]["vec_id"] == 0  # self-similarity = 1.0 is rank 1
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-9)
    assert len(top) == 5
    cosines = [r["cosine"] for r in top]
    assert cosines == sorted(cosines, reverse=True)


def test_brute_force_matches_numpy(spark, embeddings):
    pdf = embeddings.toPandas()
    mat = np.vstack(pdf["embedding"].to_numpy())
    q = mat[pdf.vec_id.tolist().index(0)]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.argsort(-sims)[:5]
    expected_ids = pdf["vec_id"].to_numpy()[order].tolist()
    query = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [r["vec_id"] for r in similarity.brute_force_topk(embeddings, query, k=5).collect()]
    assert got == expected_ids


def test_scrub_pii_redacts_and_counts(spark):
    rows = [
        ("write to bob.smith+x@example.co.uk or call (555) 123-4567 now",),
        ("server 192.168.1.250 logged ssn 123-45-6789 twice: 123-45-6789",),
        ("no pii here, just version 1.2.3 and year 2024 and id 12345",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    out = df.select(
        textanalysis.scrub_pii("text").alias("clean"),
        textanalysis.pii_counts("text").alias("hits"),
    ).collect()
    assert out[0]["clean"] == "write to <EMAIL> or call <PHONE> now"
    assert out[0]["hits"]["email"] == 1 and out[0]["hits"]["phone"] == 1
    assert out[1]["clean"] == "server <IP> logged ssn <SSN> twice: <SSN>"
    assert out[1]["hits"]["ipv4"] == 1 and out[1]["hits"]["ssn"] == 2
    # precision: versions, years and plain ids survive untouched
    assert out[2]["clean"] == rows[2][0]
    assert all(v == 0 for v in out[2]["hits"].values())


def test_scrub_pii_before_fingerprint_joins_dupes(spark):
    """Two documents identical up to their author's email must fingerprint
    identically AFTER scrubbing — the documented reason scrub precedes
    dedup."""
    df = spark.createDataFrame(
        [("contact alice@a.com for the data",), ("contact bob@b.org for the data",)],
        ["text"],
    )
    fps = [
        r["fp"]
        for r in df.select(
            textanalysis.fingerprint(textanalysis.scrub_pii("text")).alias("fp")
        ).collect()
    ]
    assert fps[0] == fps[1]


def test_rademacher_planes_portable_definition():
    """Plane (i, j) must equal the md5 parity rule verbatim — the oracle
    recomputes it in SQL, so any drift here silently breaks the catalog
    query's cross-engine signature equality."""
    import hashlib

    planes = similarity.rademacher_planes(3, 5, seed=42)
    assert planes.shape == (3, 5)
    for i in range(3):
        for j in range(5):
            h = int(hashlib.md5(f"hp:42:{i}:{j}".encode()).hexdigest()[:14], 16)
            assert planes[i, j] == (1.0 if h % 2 == 0 else -1.0)
    assert set(np.unique(planes)) <= {1.0, -1.0}


def test_srp_signature_matches_numpy(spark, embeddings):
    """srp_signature_expr must be bit-identical to the numpy matmul sign
    bits (float32 × ±1 products are exact in float64, so the plane-dot
    signs do not depend on summation order), including the zero vector:
    every dot is 0, so no bit is set."""
    planes = similarity.rademacher_planes(16, 64, seed=42)
    zero = spark.createDataFrame(
        [(-1, [0.0] * 64)], embeddings.select("vec_id", "embedding").schema
    )
    df = embeddings.select("vec_id", "embedding").unionByName(zero)
    got = {
        r["vec_id"]: r["sig"]
        for r in df.select(
            "vec_id", similarity.srp_signature_expr("embedding", planes).alias("sig")
        ).collect()
    }
    pdf = df.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    bits = (mat @ planes.T) > 0
    want = bits @ (1 << np.arange(16, dtype=np.int64))
    assert len(got) == len(pdf)
    for vid, sig in zip(pdf["vec_id"], want):
        assert got[int(vid)] == int(sig)
    assert got[-1] == 0


def test_ivf_dataframe_engine_and_pandas_assign(spark, embeddings):
    """The DataFrame Lloyd trainer: full-probe search equals brute force,
    and the Arrow-batched matmul assignment puts every vector in its
    nearest centroid's cell by squared L2."""
    assigned, centroids = similarity.ivf_index(embeddings, n_cells=6, max_iter=1)
    assert len(centroids) == 6 and all(len(c) == len(centroids[0]) for c in centroids)
    query = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = [r["vec_id"] for r in similarity.brute_force_topk(embeddings, query, k=10).collect()]
    full = [r["vec_id"] for r in
            similarity.ivf_topk(assigned, centroids, query, k=10, n_probe=6).collect()]
    assert full == exact
    got = {r["vec_id"]: r["cell"] for r in assigned.select("vec_id", "cell").collect()}
    pdf = embeddings.select("vec_id", "embedding").toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    d2 = ((mat[:, None, :] - np.asarray(centroids)[None, :, :]) ** 2).sum(axis=2)
    want = dict(zip(pdf["vec_id"].tolist(), np.argmin(d2, axis=1).tolist()))
    assert got == want


def test_assign_ivf_cell_null_and_ragged_rows(spark):
    """NULL / wrong-width embeddings must yield a NULL cell instead of
    crashing the pandas kernel's np.stack (r15 advice fix)."""
    centroids = [[0.0, 0.0, 0.0], [10.0, 10.0, 10.0]]
    df = spark.createDataFrame(
        [
            (0, [0.1, 0.2, 0.3]),
            (1, None),
            (2, [9.0, 9.0, 9.0]),
            (3, [1.0, 2.0]),  # ragged: wrong width
        ],
        "vec_id int, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_ivf_cell(df, centroids, "embedding")
        .select("vec_id", "cell")
        .collect()
    }
    assert got[0] == 0 and got[2] == 1
    assert got[1] is None
    assert got[3] is None


def test_ivf_topk_recall_and_exactness(spark, embeddings):
    """IVF with all cells probed == exact; with fewer probes, high recall."""
    assigned, centroids = similarity.ivf_index(embeddings, n_cells=8)
    assert assigned.select("cell").distinct().count() <= 8
    query = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = [r["vec_id"] for r in similarity.brute_force_topk(embeddings, query, k=10).collect()]
    # probing every cell must reproduce the exact result
    full = [r["vec_id"] for r in
            similarity.ivf_topk(assigned, centroids, query, k=10, n_probe=8).collect()]
    assert full == exact
    # probing half the cells keeps most of the top-k on this corpus
    half = {r["vec_id"] for r in
            similarity.ivf_topk(assigned, centroids, query, k=10, n_probe=4).collect()}
    assert len(half & set(exact)) >= 5


def test_ivf_probes_match_numpy_nearest_centroid(spark, embeddings, tmp_path):
    """With n_probe < n_cells, ivf_topk and search_ivf_index both probe
    exactly the cells a numpy brute-force nearest-centroid ranking gives
    (squared L2, ties → lowest cell id). k exceeds every cell's size, so
    the cells of the returned candidates ARE the probed cells."""

    def expected(qvecs, cents, n_probe):
        d2 = ((np.asarray(qvecs)[:, None, :] - np.asarray(cents)[None, :, :]) ** 2).sum(axis=2)
        return [set(row[:n_probe].tolist()) for row in np.argsort(d2, axis=1, kind="stable")]

    def probed_cells(out, cell_of):
        got: list[set] = [set() for _ in qvecs]
        for r in out.collect():
            got[r["query_id"]].add(cell_of[r["vec_id"]])
        return got

    # hand-made index with exact ties: q1 is equidistant from cells 0 and
    # 1, q2 from cells 0 and 3 (and then from 1 and 2)
    cents = [[0.0, 0.0], [1.0, 0.0], [-1.0, 0.0], [0.0, 5.0]]
    rows = [
        (10 * i + j, [c[0] + dx, c[1]], i)
        for i, c in enumerate(cents)
        for j, dx in enumerate((0.25, -0.25))
    ]
    assigned = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cell int")
    cell_of = {r[0]: r[2] for r in rows}
    qvecs = [[0.0, 0.0], [0.5, 0.0], [0.0, 2.5]]
    query = spark.createDataFrame(
        list(enumerate(qvecs)), "query_id long, embedding array<float>"
    )
    idx = str(tmp_path / "ties")
    similarity.write_ivf_index(assigned, cents, idx)
    for n_probe in (1, 2, 3):
        want = expected(qvecs, cents, n_probe)
        mem = similarity.ivf_topk(assigned, cents, query, k=100, n_probe=n_probe)
        disk = similarity.search_ivf_index(spark, idx, query, k=100, n_probe=n_probe)
        assert probed_cells(mem, cell_of) == want, n_probe
        assert probed_cells(disk, cell_of) == want, n_probe
    assert expected(qvecs, cents, 1) == [{0}, {0}, {0}]  # ties → lowest id

    # trained index over the real corpus
    assigned, cents = similarity.ivf_index(embeddings, n_cells=6, max_iter=1)
    cell_of = {r["vec_id"]: r["cell"] for r in assigned.select("vec_id", "cell").collect()}
    query = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qvecs = [r["embedding"] for r in query.orderBy("query_id").collect()]
    idx = str(tmp_path / "trained")
    similarity.write_ivf_index(assigned, cents, idx)
    want = expected(qvecs, cents, 2)
    k = len(cell_of)
    assert probed_cells(similarity.ivf_topk(assigned, cents, query, k=k, n_probe=2), cell_of) == want
    assert probed_cells(similarity.search_ivf_index(spark, idx, query, k=k, n_probe=2), cell_of) == want


def test_repetition_ratio_ranks_repetitive_docs(spark):
    """Duplicated-3-gram share: a templated doc scores high, a diverse doc
    scores 0, and an all-identical doc scores (n-1)/n."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),                  # all grams unique -> 0
            (2, "x y z x y z x y z x y z"),          # heavy template
            (3, "w w w w w w"),                      # one distinct gram
        ],
        ["doc_id", "text"],
    )
    g = df.select("doc_id", dedup.shingles("text", 3, distinct=False).alias("grams"))
    n = F.size("grams")
    nd = F.size(F.array_distinct("grams"))
    rows = {
        r["doc_id"]: (r["n"], r["nd"])
        for r in g.select("doc_id", n.alias("n"), nd.alias("nd")).collect()
    }
    assert rows[1] == (6, 6)
    assert rows[3] == (4, 1)
    dup2 = 1 - rows[2][1] / rows[2][0]
    assert dup2 > 0.5


def test_stratified_hash_gate_deterministic_and_rate_shaped(spark):
    """The mix gate is reproducible across runs and keeps roughly the
    target share per stratum (exact counts pinned by the hash, not rand)."""
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    rate = F.when(F.col("lang") == "en", 60).otherwise(10)
    bucket = dedup.md5int(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    ) % 100
    kept = df.filter(bucket < rate).groupBy("lang").count()
    counts = {r["lang"]: r["count"] for r in kept.collect()}
    # 1000 docs per stratum; hash-mod keeps within a few percent of target
    assert 520 <= counts["en"] <= 680
    assert 60 <= counts["zh"] <= 140
    counts2 = {r["lang"]: r["count"] for r in kept.collect()}
    assert counts == counts2


def test_connected_components_releases_old_checkpoints(spark):
    """Each large-star/small-star round localCheckpoints the edge list;
    prior rounds' RDD blocks must be released as the iteration advances or
    a ~log(n)-round run accumulates every round's edges in executor
    storage. Bound: at most 2 rounds' worth of checkpoint RDDs (current +
    the one the result depends on) survive beyond pre-existing blocks."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    # a 64-node chain forces ~log2(64) rounds
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    out = dedup.connected_components(df, max_iterations=16)
    assert out.select(F.countDistinct("component")).first()[0] == 1
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    leaked = after - before
    assert len(leaked) <= 2, (
        f"{len(leaked)} checkpoint RDDs still persisted after "
        "connected_components — prior rounds are not being unpersisted"
    )


def test_srp_signature_expr_matches_arrow_kernel(spark, embeddings):
    """The JVM-expression SRP signature must be bit-identical to the Arrow
    matmul kernel with one band: float32 × ±1 products are exact in
    float64, so the plane-dot signs cannot depend on summation order."""
    planes = similarity.rademacher_planes(16, 64, seed=42)
    a = embeddings.select(
        "vec_id", similarity.srp_band_values("embedding", planes, bands=1)[0].alias("sa")
    )
    b = embeddings.select(
        "vec_id", similarity.srp_signature_expr("embedding", planes).alias("sb")
    )
    assert a.count() == b.count() > 0
    assert a.join(b, "vec_id").filter(F.col("sa") != F.col("sb")).count() == 0


def test_srp_band_values_matches_numpy(spark, embeddings):
    """Per-band packing must equal slicing the full bit matrix: band b of
    width w packs bits [b*w, (b+1)*w) little-endian — no 64-plane cap."""
    planes = similarity.rademacher_planes(96, 64, seed=42)
    got = {
        r["vec_id"]: r["bvs"]
        for r in embeddings.select(
            "vec_id", similarity.srp_band_values("embedding", planes, bands=6).alias("bvs")
        ).collect()
    }
    pdf = embeddings.select("vec_id", "embedding").toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    bits = (mat @ planes.T) > 0
    w = 96 // 6
    weights = 1 << np.arange(w, dtype=np.int64)
    for k, vid in enumerate(pdf["vec_id"]):
        want = [int(bits[k, b * w : (b + 1) * w] @ weights) for b in range(6)]
        assert got[int(vid)] == want, vid


def test_srp_neardup_pairs_finds_planted_dups(spark):
    """Wide-band production LSH: planted near-identical pairs (cos ≥ 0.999)
    must all surface; output respects id_a < id_b and the threshold."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64)).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(40)]
    # plant 5 near-dups: id 100+i is id i plus tiny noise
    for i in range(5):
        v = base[i] + rng.normal(scale=1e-3, size=64).astype(np.float32)
        rows.append((100 + i, v.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.srp_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.95, n_planes=128, bands=8
    ).collect()
    got_pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert {(i, 100 + i) for i in range(5)} <= got_pairs
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.95


def test_srp_neardup_pairs_max_bucket_cap(spark):
    """A value flooding one band bucket is dropped by the cap (documented
    recall trade), shrinking output instead of exploding it."""
    rng = np.random.default_rng(11)
    v = rng.normal(size=64).astype(np.float32)
    # 30 copies of the same vector -> every band bucket holds all 30
    rows = [(i, v.tolist()) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = similarity.srp_neardup_pairs(df, threshold=0.95, n_planes=32, bands=2)
    capped = similarity.srp_neardup_pairs(
        df, threshold=0.95, n_planes=32, bands=2, max_bucket=10
    )
    assert full.count() == 30 * 29 // 2
    assert capped.count() == 0


def test_srp_neardup_pairs_cap_keeps_pairs_from_surviving_bands(spark):
    """Round-8 review regression: under max_bucket, a pair whose MINIMAL
    agreeing band lives in a dropped hot bucket must still be emitted
    from a later surviving bucket (min-band suppression is unsound under
    the cap — the capped path must use the shuffle dedup). Engineered
    with 1-bit bands: all six vectors share the band-0 value (bucket of
    6 > cap 5, dropped); {A,B} and {C,D,E,F} split band 1 into two
    surviving buckets whose pairs must ALL appear."""
    planes = similarity.rademacher_planes(2, 8, 42)
    p0, p1 = planes[0], planes[1]
    rng = np.random.default_rng(3)

    def vec(sign1, k):
        # sign of p1.v = p0.p1 + 8c = -2 + 8c for these planes: need |c| > 0.25
        v = p0 + (0.5 * sign1) * p1 + rng.normal(scale=1e-3, size=8)
        return v.astype(np.float32).tolist()

    rows = [(0, vec(+1, 0)), (1, vec(+1, 1))]          # A, B: bands (+,+)
    rows += [(i, vec(-1, i)) for i in range(2, 6)]     # C..F: bands (+,-)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # sanity: uncapped emits every pair (all six share the band-0 bucket)
    full = similarity.srp_neardup_pairs(
        df, threshold=-1.0, n_planes=2, bands=2, dim=8
    )
    assert full.count() == 6 * 5 // 2
    capped = similarity.srp_neardup_pairs(
        df, threshold=-1.0, n_planes=2, bands=2, dim=8, max_bucket=5
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    expect = {(0, 1)} | {(a, b) for a in range(2, 6) for b in range(a + 1, 6)}
    assert got == expect  # 7 pairs: the band-1 buckets' full pair sets


def test_pack_sequences_shard_invariants(spark, docs):
    """Shard count moves WHERE docs pack, never what is packed: total docs
    and total tokens are invariant across shard counts, no window
    partition exceeds its shard, and the default path (n_shards=None)
    uses defaultParallelism."""
    d = docs.select(
        "doc_id", "lang", textanalysis.token_count("text").alias("n_tokens")
    )
    totals = {}
    for n in (1, 8, 32):
        seqs = textanalysis.pack_sequences(d, n_shards=n)
        agg = seqs.agg(
            F.sum("n_docs").alias("docs"), F.sum("seq_tokens").alias("toks"),
            F.countDistinct("shard").alias("shards"),
        ).collect()[0]
        totals[n] = (agg["docs"], agg["toks"])
        assert agg["shards"] <= n
    assert totals[1] == totals[8] == totals[32]
    dp = spark.sparkContext.defaultParallelism
    seqs_default = textanalysis.pack_sequences(d)
    assert seqs_default.agg(F.max("shard")).collect()[0][0] < dp


def test_sequence_packing_offsets_and_fill(spark):
    """Concatenate-and-slice packing: docs land in the 512-token window
    their stream offset starts in; windows are per (lang, shard)."""
    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY
    import tempfile, os
    # 8 docs in one lang, one shard (doc_id multiples of 8): 300 tokens each
    # -> offsets 0,300,600,... -> seq ids 0,0,1,1,2,2,3,4? offsets: 0,300 ->
    # seq0; 600,900 -> seq1; 1200,1500->seq2...(floor(off/512))
    rows = [(i * 8, " ".join(["w"] * 300), "en", 300, "s") for i in range(8)]
    import pandas as pd
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "n_chars", "source"]).to_parquet(
            os.path.join(td, "documents.parquet")
        )
        out = {r["lang"]: r for r in REGISTRY["sequence_packing"].fn(spark, td).collect()}
    en = out["en"]
    # offsets 0,300,600,...,2100 -> floor/512 = 0,0,1,1,2,2,3,4 -> 5 seqs
    assert en["n_seqs"] == 5
    assert en["max_docs_per_seq"] == 2
    # total tokens 2400 over 5 seqs of 512 = 0.9375 avg fill
    assert abs(en["avg_fill"] - round(2400 / (5 * 512.0), 4)) < 1e-9


def test_scalar_quantize_recon_snaps_to_levels(spark):
    """SQ reconstruction: endpoints are exact, interior values snap to the
    nearest of 16 uniform levels (max error = half a step), constant dims
    collapse without 0/0."""
    from zarr_climate_etl_ipfs_spark.operators.similarity import (
        scalar_quantize_bounds,
        scalar_quantize_recon,
    )

    rows = [
        (1, [0.0, -1.0, 5.0]),
        (2, [1.5, 1.0, 5.0]),
        (3, [0.07, 0.0, 5.0]),  # dim 3 constant across the corpus
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bounds = scalar_quantize_bounds(df, dim=3)
    b = bounds.collect()[0]
    assert b["mins"] == [0.0, -1.0, 5.0] and b["maxs"] == [1.5, 1.0, 5.0]
    got = {
        r["vec_id"]: r["rv"]
        for r in df.crossJoin(F.broadcast(bounds))
        .select("vec_id", scalar_quantize_recon("embedding", "mins", "maxs").alias("rv"))
        .collect()
    }
    # endpoints exact; constant dim exact
    assert got[1] == [0.0, -1.0, 5.0]
    assert got[2] == [1.5, 1.0, 5.0]
    # 0.07 in [0, 1.5] with 15 steps of 0.1: snaps to 0.1 (code 1)
    assert abs(got[3][0] - 0.1) < 1e-12
    # every reconstruction is within half a step of its input
    step = 1.5 / 15
    assert abs(got[3][0] - 0.07) <= step / 2 + 1e-12


def test_sq_asym_cosine_scan_matches_expression_path(spark):
    """The r15 Arrow kernel (sq_asym_cosine_scan) must reproduce the
    expression path it replaced — recon zip_with + cosine fold — on clean
    AND dirty rows: NULL vector, ragged vector, zero-norm vector, constant
    dimension. Comparison at 6 decimals (the query's output rounding;
    BLAS vs fold summation may differ below that)."""
    from zarr_climate_etl_ipfs_spark.functions.vectors import cosine_similarity
    from zarr_climate_etl_ipfs_spark.operators.similarity import (
        scalar_quantize_bounds,
        scalar_quantize_recon,
        sq_asym_cosine_scan,
    )

    rows = [
        (0, [1.0, 0.5, 5.0]),       # query vector
        (1, [0.0, -1.0, 5.0]),
        (2, [1.5, 1.0, 5.0]),       # dim 3 constant (hi == lo)
        (3, [0.07, 0.0, 5.0]),
        (4, None),                   # NULL vector → NULL cosine
        (5, [1.0, 2.0]),             # short; missing dim constant → scores
        (6, [0.0, 0.0, 5.0]),
        (7, [1.0, 2.0, 5.0, 4.0]),   # longer than codebook → NULL cosine
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = F.broadcast(scalar_quantize_bounds(df, dim=3, query_pred=F.col("vec_id") == 0))
    got = {
        r["vec_id"]: r["cosine"]
        for r in sq_asym_cosine_scan(
            df.crossJoin(cb), levels=16
        ).collect()
    }
    bounds = F.broadcast(scalar_quantize_bounds(df, dim=3))
    qv = F.broadcast(
        df.filter(F.col("vec_id") == 0).select(
            F.col("embedding").cast("array<double>").alias("qvec")
        )
    )
    expected = {
        r["vec_id"]: r["c"]
        for r in df.crossJoin(bounds)
        .select(
            "vec_id",
            scalar_quantize_recon("embedding", "mins", "maxs", levels=16).alias("rv"),
        )
        .crossJoin(qv)
        .select("vec_id", cosine_similarity(F.col("rv"), F.col("qvec")).alias("c"))
        .collect()
    }
    assert set(got) == set(expected) == {0, 1, 2, 3, 4, 5, 6, 7}
    for k in expected:
        if expected[k] is None:
            assert got[k] is None, k
        else:
            assert got[k] is not None and abs(got[k] - expected[k]) < 5e-7, k
    assert got[4] is None and got[7] is None and got[5] is not None


def test_sq_asym_cosine_scan_query_edge_cases(spark):
    """No query row → zero output rows (the old filter+crossJoin
    annihilation); query row present with NULL vector → every cosine
    NULL but all rows emitted (the old NULL-qvec fold)."""
    from zarr_climate_etl_ipfs_spark.operators.similarity import (
        scalar_quantize_bounds,
        sq_asym_cosine_scan,
    )

    df = spark.createDataFrame(
        [(1, [0.5, 1.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    cb = F.broadcast(scalar_quantize_bounds(df, dim=2, query_pred=F.col("vec_id") == 0))
    assert sq_asym_cosine_scan(df.crossJoin(cb), levels=16).count() == 0

    df2 = spark.createDataFrame(
        [(0, None), (1, [0.5, 1.0])], "vec_id long, embedding array<float>"
    )
    cb2 = F.broadcast(
        scalar_quantize_bounds(df2, dim=2, query_pred=F.col("vec_id") == 0)
    )
    out = sq_asym_cosine_scan(df2.crossJoin(cb2), levels=16).collect()
    assert len(out) == 2 and all(r["cosine"] is None for r in out)


def test_srp_signature_expr_string_path_bit_identical(spark):
    """r15 construction fast path: the signature expression is built from
    one parsed SQL string (the Column-object form paid n_planes x dim
    F.lit py4j round trips — 2.4 s of driver time per fresh 16x64 build).
    At 12 planes x 16 dims it must be bit-identical to the numpy sign bits
    and to the one-band Arrow kernel, including the zero vector (all dots
    0 → no bits set)."""
    rng = np.random.RandomState(3)
    rows = [(i, [float(np.float32(x)) for x in rng.standard_normal(16)]) for i in range(64)]
    rows.append((64, [0.0] * 16))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = similarity.rademacher_planes(12, 16, seed=42)
    out = df.select(
        "vec_id",
        similarity.srp_signature_expr("embedding", planes).alias("s"),
        similarity.srp_band_values("embedding", planes, bands=1)[0].alias("k"),
    ).collect()
    fast = {r["vec_id"]: r["s"] for r in out}
    kernel = {r["vec_id"]: r["k"] for r in out}
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    want = ((mat @ planes.T) > 0) @ (1 << np.arange(12, dtype=np.int64))
    assert fast == {i: int(w) for i, w in enumerate(want)}
    assert fast == kernel
    assert fast[64] == 0


def test_semdedup_census_matches_bruteforce(spark):
    """r15 internals change (aggregate argmax + gram-kernel verify): the
    census must equal a NumPy brute-force of the SemDeDup spec — assign
    to argmax-cosine seed (ties → lowest seed id), drop any vector with a
    smaller-id same-cluster neighbor at cosine >= threshold. Zero-norm
    vectors pin cosine -1.0, cluster to the lowest seed, and always
    survive; exact duplicates drop; expr and pandas assignment paths
    agree."""
    import numpy as np

    from zarr_climate_etl_ipfs_spark.operators.similarity import semdedup_census

    rng = np.random.RandomState(7)
    vecs = {i: rng.standard_normal(8) for i in range(12)}
    vecs[12] = vecs[3].copy()            # exact duplicate of id 3
    vecs[13] = np.zeros(8)               # zero-norm: survives
    rows = [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k, thr = 3, 0.35

    # brute force in float32-faithful float64 (matches the engine's cast)
    V = {i: np.asarray([np.float32(x) for x in v], dtype=np.float64)
         for i, v in vecs.items()}
    seeds = sorted(V)[:k]
    def cos(a, b):
        na, nb = np.sqrt(V[a] @ V[a]), np.sqrt(V[b] @ V[b])
        return -1.0 if na == 0 or nb == 0 else float(V[a] @ V[b] / (na * nb))
    cluster = {
        i: max(seeds, key=lambda s: (cos(i, s), -s)) for i in V
    }
    dropped = {
        j for j in V
        if any(i < j and cluster[i] == cluster[j] and cos(i, j) >= thr for i in V)
    }
    expect = {}
    for i, c in cluster.items():
        n, d = expect.get(c, (0, 0))
        expect[c] = (n + 1, d + (1 if i in dropped else 0))

    for method in ("expr", "pandas"):
        got = {
            r["cluster"]: (r["n_vectors"], r["n_dropped"])
            for r in semdedup_census(df, k=k, threshold=thr, assign_method=method).collect()
        }
        assert got == expect, (method, got, expect)
    assert 12 in dropped and 13 not in dropped


def test_simhash_vote_kernel_trailing_empty_groups(spark):
    """Round-7 review regression: a batch whose trailing rows carry empty
    hash arrays must not truncate the preceding group's vote range
    ([[3,3],[]] once voted [0,0] instead of [3,0] via the reduceat
    clamp)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from zarr_climate_etl_ipfs_spark.operators.dedup import simhash_vote_kernel

    df = spark.createDataFrame(
        pd.DataFrame({"id": [0, 1, 2, 3], "hvs": [[3, 3], [], [5], []]})
    )
    got = {
        r.id: r.sig
        for r in df.repartition(1)
        .select("id", simhash_vote_kernel("hvs", bits=8).alias("sig"))
        .collect()
    }
    assert got == {0: 3, 1: 0, 2: 5, 3: 0}


def test_dot_fixed_bit_identical_to_hof_dot(spark):
    """dot_fixed (flat codegen getItem chain) must be BIT-identical to the
    higher-order-function fold — same left-associated double adds, same
    float→double casts, same 0.0 seed — across random, zero, signed-zero,
    and subnormal-ish vectors. The LSH verify stage swaps between them
    freely on known-width embeddings."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from zarr_climate_etl_ipfs_spark.functions.vectors import dot, dot_fixed

    rng = np.random.RandomState(5)
    dims = 64
    vecs = [rng.standard_normal(dims).astype(np.float32) for _ in range(20)]
    vecs.append(np.zeros(dims, dtype=np.float32))
    vecs.append(-np.zeros(dims, dtype=np.float32))  # all -0.0 components
    vecs.append(np.full(dims, 1e-30, dtype=np.float32))
    rows = [
        (i, [float(x) for x in a], [float(y) for y in b])
        for i, (a, b) in enumerate(zip(vecs, vecs[::-1]))
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["i", "a", "b"])
    ).select(
        "i",
        F.col("a").cast("array<float>").alias("a"),
        F.col("b").cast("array<float>").alias("b"),
    )
    got = df.select(
        "i",
        dot("a", "b").alias("hof"),
        dot_fixed("a", "b", dims).alias("flat"),
    ).collect()
    for r in got:
        # exact bit equality, not approx — the whole point of the helper
        assert repr(r.hof) == repr(r.flat), (r.i, r.hof, r.flat)


def test_persisted_ivf_index_roundtrip_and_pruning(spark, embeddings, tmp_path):
    """Build → write → read → search equals the in-memory search, the
    probed-cell IN filter reaches the parquet source as a PARTITION filter
    (unprobed inverted lists cost zero I/O), and the index.json commit
    marker gates half-written indexes."""
    assigned, centroids = similarity.ivf_index(
        embeddings, n_cells=6, max_iter=1
    )
    idx = str(tmp_path / "ivf")
    man = similarity.write_ivf_index(assigned, centroids, idx)
    assert man["n_cells"] == 6

    query = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = [
        (r["query_id"], r["vec_id"], round(r["cosine"], 9))
        for r in similarity.ivf_topk(
            assigned, centroids, query, k=5, n_probe=2
        ).collect()
    ]
    got_df = similarity.search_ivf_index(spark, idx, query, k=5, n_probe=2)
    got = [(r["query_id"], r["vec_id"], round(r["cosine"], 9)) for r in got_df.collect()]
    assert got == want and len(got) == 15

    # partition pruning: the cell IN filter must be a PartitionFilter on the
    # scan, not a post-scan predicate
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters: [cell" in scan.replace("[isnotnull(cell", "[cell")

    # commit marker: an index without index.json must not open
    import shutil as _shutil

    half = str(tmp_path / "half")
    _shutil.copytree(idx, half)
    (tmp_path / "half" / "index.json").unlink()
    with pytest.raises(FileNotFoundError, match="index.json"):
        similarity.read_ivf_index(spark, half)


def test_append_ivf_index_incremental(spark, embeddings, tmp_path):
    """Incremental maintenance: appended vectors route to the frozen
    centroids' cells, the marker's appends generation bumps, a full-probe
    search over the appended index equals brute force over the FULL
    corpus, and partition pruning still holds after the append."""
    base = embeddings.filter(F.col("vec_id") % 2 == 0)
    late = embeddings.filter(F.col("vec_id") % 2 != 0)
    assigned, centroids = similarity.ivf_index(
        base, n_cells=4, max_iter=1
    )
    idx = str(tmp_path / "ivf_inc")
    similarity.write_ivf_index(assigned, centroids, idx)
    man = similarity.append_ivf_index(spark, idx, late)
    assert man["appends"] == 1

    stored, cents, meta = similarity.read_ivf_index(spark, idx)
    assert stored.count() == embeddings.count()  # nothing lost or duplicated
    assert stored.select("vec_id").distinct().count() == embeddings.count()
    # every appended row sits in its centroid-argmin cell
    expect = similarity.assign_ivf_cell(
        late.select("vec_id", "embedding"), cents, "embedding"
    ).select("vec_id", F.col("cell").alias("want"))
    mis = (
        stored.join(expect, "vec_id")
        .filter(F.col("cell") != F.col("want"))
        .count()
    )
    assert mis == 0

    query = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.search_ivf_index(spark, idx, query, k=3, n_probe=4)
    want = similarity.brute_force_topk(embeddings, query, k=3)
    g = [(r["query_id"], r["vec_id"]) for r in got.orderBy("query_id", "rank").collect()]
    w = [(r["query_id"], r["vec_id"]) for r in want.orderBy("query_id", "rank").collect()]
    assert g == w
    # pruning survives the append
    pruned = similarity.search_ivf_index(spark, idx, query, k=3, n_probe=1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters: [cell" in scan.replace("[isnotnull(cell", "[cell")
    # an empty-centroid index refuses appends with a named error
    empty_idx = str(tmp_path / "ivf_empty")
    a0, c0 = similarity.ivf_index(
        embeddings.filter(F.lit(False)), n_cells=4, max_iter=1
    )
    similarity.write_ivf_index(a0, c0, empty_idx)
    with pytest.raises(ValueError, match="no centroids"):
        similarity.append_ivf_index(spark, empty_idx, late)


def test_compact_ivf_index_consolidates_without_content_change(spark, embeddings, tmp_path):
    """Two appends fragment the inverted lists; compact rewrites crowded
    cells to one file each and the search result is unchanged."""
    thirds = [embeddings.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    assigned, centroids = similarity.ivf_index(
        thirds[0], n_cells=3, max_iter=1
    )
    idx = str(tmp_path / "ivf_c")
    similarity.write_ivf_index(assigned, centroids, idx)
    similarity.append_ivf_index(spark, idx, thirds[1])
    similarity.append_ivf_index(spark, idx, thirds[2])

    query = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = [
        (r["query_id"], r["vec_id"])
        for r in similarity.search_ivf_index(spark, idx, query, k=4, n_probe=3)
        .orderBy("query_id", "rank").collect()
    ]
    from pathlib import Path

    pre = {d.name: sum(1 for _ in d.glob("*.parquet"))
           for d in (Path(idx) / "cells").glob("cell=*")}
    assert any(n > 1 for n in pre.values())  # appends really fragmented
    rewritten = similarity.compact_ivf_index(spark, idx)
    assert set(rewritten) == {k for k, n in pre.items() if n > 1}
    post = {d.name: sum(1 for _ in d.glob("*.parquet"))
            for d in (Path(idx) / "cells").glob("cell=*")}
    assert all(n == 1 for n in post.values())
    after = [
        (r["query_id"], r["vec_id"])
        for r in similarity.search_ivf_index(spark, idx, query, k=4, n_probe=3)
        .orderBy("query_id", "rank").collect()
    ]
    assert after == before
    _s, _c, meta = similarity.read_ivf_index(spark, idx)
    assert meta["compactions"] == 1
    # idempotent: a second compact is a no-op
    assert similarity.compact_ivf_index(spark, idx) == {}


def test_compact_ivf_atomic_swap_and_crash_recovery(spark, embeddings, tmp_path):
    """The compact commit must never leave a cell dir missing: the primary
    path is a renameat2(RENAME_EXCHANGE) swap, and the fallback's crash
    window (cell renamed aside, replacement not yet landed) is healed by
    _recover_cells on the next read."""
    import os
    from pathlib import Path

    # the atomic-exchange primitive works on this filesystem
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    (a / "x").write_text("A")
    (b / "x").write_text("B")
    similarity._exchange_dirs(a, b)
    assert (a / "x").read_text() == "B" and (b / "x").read_text() == "A"

    halves = [embeddings.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    assigned, centroids = similarity.ivf_index(
        halves[0], n_cells=3, max_iter=1
    )
    idx = str(tmp_path / "ivf_r")
    similarity.write_ivf_index(assigned, centroids, idx)
    similarity.append_ivf_index(spark, idx, halves[1])
    total = embeddings.count()
    cells_root = Path(idx) / "cells"
    victim = sorted(cells_root.glob("cell=*"))[0]

    # simulate a crash inside the fallback window: the live cell dir was
    # renamed aside and the replacement never landed
    os.rename(victim, cells_root / f"_old_{victim.name}.{os.getpid()}")
    assert not victim.exists()
    stored, _c, _m = similarity.read_ivf_index(spark, idx)  # heals on read
    assert victim.exists()
    assert stored.count() == total

    # stale leftovers with a live cell are garbage and get swept (owner
    # pid chosen beyond pid_max so it is dead on any host)
    junk_old = cells_root / f"_old_{victim.name}.999999999"
    junk_tmp = cells_root / f"_compact_{victim.name}.999999999"
    junk_old.mkdir(), junk_tmp.mkdir()
    similarity._recover_cells(cells_root)
    assert not junk_old.exists() and not junk_tmp.exists()
    assert victim.exists()

    # end-to-end compact after recovery still preserves content
    similarity.compact_ivf_index(spark, idx)
    stored2, _c2, _m2 = similarity.read_ivf_index(spark, idx)
    assert stored2.count() == total
    assert stored2.select("vec_id").distinct().count() == total


def test_recover_cells_skips_live_foreign_compactor(tmp_path):
    """A reader's recovery pass must not touch staging/aside dirs owned by
    a LIVE compactor in another process — deleting a live _compact_ dir
    mid-write (or resurrecting a live _old_ dir mid-swap) loses committed
    cell data. pid 1 stands in for a live foreign process; a dead pid and
    our own pid stay collectable."""
    import os

    from zarr_climate_etl_ipfs_spark.operators import similarity

    cells_root = tmp_path / "cells"
    cells_root.mkdir()
    live = cells_root / "cell=0"
    live.mkdir()

    # live foreign owner (pid 1 = init, always running): leave alone
    busy_old = cells_root / "_old_cell=0.1"
    busy_tmp = cells_root / "_compact_cell=0.1"
    busy_old.mkdir(), busy_tmp.mkdir()
    similarity._recover_cells(cells_root)
    assert busy_old.exists() and busy_tmp.exists()

    # even when the live cell is missing, a live owner's _old_ dir must
    # not be resurrected out from under its in-flight second rename
    live.rmdir()
    similarity._recover_cells(cells_root)
    assert busy_old.exists() and not live.exists()
    busy_old.rmdir(), busy_tmp.rmdir()

    # our own pid = crashed predecessor call in this process: resurrect
    mine = cells_root / f"_old_cell=0.{os.getpid()}"
    mine.mkdir()
    similarity._recover_cells(cells_root)
    assert live.exists() and not mine.exists()

    # dead owner (pid far past any live range on this host) with a live
    # cell: plain garbage, swept
    dead_tmp = cells_root / "_compact_cell=0.999999999"
    dead_tmp.mkdir()
    similarity._recover_cells(cells_root)
    assert not dead_tmp.exists() and live.exists()

    # same pid but WITH a registered in-flight compaction on this root:
    # a sibling thread's staging dirs are live, not a crashed predecessor
    busy_mine = cells_root / f"_compact_cell=0.{similarity._owner_token()}"
    busy_mine.mkdir()
    key = str(cells_root.resolve())
    similarity._compaction_register(key)
    try:
        similarity._recover_cells(cells_root)
        assert busy_mine.exists()
        # registry is a counter: a nested register/unregister pair must
        # not deregister the outer compaction
        similarity._compaction_register(key)
        similarity._compaction_unregister(key)
        similarity._recover_cells(cells_root)
        assert busy_mine.exists()
    finally:
        similarity._compaction_unregister(key)
    similarity._recover_cells(cells_root)  # registry cleared: collectable
    assert not busy_mine.exists()

    # pid-recycling guard: pid 1 is alive, but a stamp whose start time
    # contradicts /proc/1's start time names a DEAD process that happened
    # to share the pid — collectable, not skipped forever
    real_start = similarity._proc_start_ticks(1)
    if real_start is not None:
        recycled = cells_root / f"_compact_cell=0.1.{real_start + 12345}"
        recycled.mkdir()
        same = cells_root / f"_compact_cell=1.1.{real_start}"
        same.mkdir()
        similarity._recover_cells(cells_root)
        assert not recycled.exists()  # wrong start time: owner is gone
        assert same.exists()  # right start time: live foreign owner
        same.rmdir()


def test_ngram_decontamination_hand_case(spark):
    """External anchor for the exact-overlap report: a corpus doc that IS a
    benchmark doc verbatim hits on every one of its windows; an unrelated
    doc and a too-short doc produce no row."""
    import os
    import tempfile

    import pandas as pd

    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY

    ten = "a b c d e f g h i j"          # 10 words → 3 distinct 8-gram windows
    rows = [
        (0, ten, "en", len(ten), "s"),    # benchmark (0 % 31 == 0)
        (1, ten, "en", len(ten), "s"),    # contaminated verbatim copy
        (2, "k l m n o p q r s t", "en", 19, "s"),  # disjoint vocabulary
        (3, "x y z", "en", 5, "s"),       # < 8 words → no grams at all
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "n_chars", "source"]).to_parquet(
            os.path.join(td, "documents.parquet")
        )
        out = {r["doc_id"]: r for r in REGISTRY["ngram_decontamination"].fn(spark, td).collect()}
    assert list(out) == [1]
    hit = out[1]
    assert hit["n_grams"] == 3
    assert hit["n_hit_grams"] == 3
    assert hit["n_bench_docs"] == 1


def test_encoding_quality_flags(spark):
    """Hand-built mojibake corpus: each pathology trips exactly its own
    counter, the empty doc stays out of the ratio average, and only the
    clean ASCII doc passes the gate."""
    import os
    import tempfile

    import pandas as pd

    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY

    rows = [
        (0, "plain ascii text", "en", 16, "s"),     # clean
        (1, "ab�", "en", 3, "s"),              # replacement char (ratio 1/3)
        (2, "bad\x01ctl", "en", 7, "s"),            # C0 control char
        (3, "中文文本", "zh", 4, "s"),  # 100% non-ASCII
        (4, "", "en", 0, "s"),                      # empty: excluded from ratio
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "n_chars", "source"]).to_parquet(
            os.path.join(td, "documents.parquet")
        )
        out = REGISTRY["encoding_quality"].fn(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 5
    assert r["n_replacement_docs"] == 1
    assert r["n_control_docs"] == 1
    # mean over the four non-empty docs: (0 + 1/3 + 0 + 1) / 4
    assert r["avg_nonascii_ratio"] == round((1 / 3 + 1.0) / 4, 4)
    assert r["n_clean"] == 1


def test_source_span_overlap_hand_case(spark):
    """One 16-word sentence shared verbatim across two sources yields
    exactly one pair row with one shared span; a third unrelated source
    stays off the matrix."""
    import os
    import tempfile

    import pandas as pd

    from zarr_climate_etl_ipfs_spark.plans.queries import REGISTRY

    sent = " ".join(f"w{i}" for i in range(16))
    rows = [
        (1, sent, "en", len(sent), "srcA"),
        (2, sent + " tail words here", "en", 1, "srcB"),
        (3, " ".join(f"z{i}" for i in range(20)), "en", 1, "srcC"),
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "n_chars", "source"]).to_parquet(
            os.path.join(td, "documents.parquet")
        )
        out = REGISTRY["source_span_overlap"].fn(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("srcA", "srcB")
    assert r["n_shared_spans"] == 1


def test_srp_signature_expr_full_64_planes(spark):
    """64 planes build and set bit 63 (the sign bit). 65 planes must raise:
    bigint shiftleft wraps at 64, so plane 64 would silently land on bit 0;
    0 planes raise too."""
    planes = similarity.rademacher_planes(65, 8, seed=42)
    # v = plane 63 itself: its dot with plane 63 is 8 > 0, so bit 63 is set
    df = spark.createDataFrame([(planes[63].tolist(),)], "v array<float>")
    sig = df.select(similarity.srp_signature_expr("v", planes[:64]).alias("s")).first()["s"]
    assert sig < 0
    with pytest.raises(ValueError, match="n_planes"):
        similarity.srp_signature_expr("v", planes)
    with pytest.raises(ValueError, match="n_planes"):
        similarity.srp_signature_expr("v", planes[:0])


def test_lsh_band_divisibility_enforced(spark):
    """srp_band_values and srp_neardup_pairs refuse a plane count the band
    count does not divide: a remainder would silently discard the top
    n_planes % bands signature bits (round-14 review catch)."""
    planes = similarity.rademacher_planes(16, 8, seed=42)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.srp_band_values("embedding", planes, bands=3)
    df = spark.createDataFrame([(1, [1.0] * 8)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="not divisible"):
        similarity.srp_neardup_pairs(df, n_planes=13, bands=4, dim=8)


def test_srp_neardup_pairs_no_self_pairs_on_duplicate_ids(spark):
    """Duplicate vec_ids (dirty corpus re-ingest) collide in every band as
    identical structs; the pair generator's sorted listing guarantees
    id_a <= id_b, so without the guard a cosine-1.0 SELF-pair violates the
    documented id_a < id_b contract (round-14 review catch) — on both the
    uncapped (min-band dedup) and capped (dropDuplicates) paths."""
    vec = [1.0, 0.5] * 32
    rows = [(7, vec), (7, vec), (9, [v + 0.001 for v in vec])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for cap in (None, 100):
        out = similarity.srp_neardup_pairs(
            df, threshold=0.9, n_planes=16, bands=4, max_bucket=cap
        ).collect()
        assert all(r["id_a"] < r["id_b"] for r in out), (cap, out)
        # the true near-dup pair (7, 9) still survives
        assert any((r["id_a"], r["id_b"]) == (7, 9) for r in out), (cap, out)


def test_dedup_exact_null_text_keeps_one_representative(spark):
    """fingerprint(NULL) is NULL and a NULL equi-join key matches nothing,
    so every NULL-text doc used to VANISH from dedup_exact instead of one
    surviving (round-14 review catch, verified live). NULL-text docs now
    group under a sentinel key, distinct from empty-text docs."""
    df = spark.createDataFrame(
        [(1, "hello"), (2, "hello"), (3, None), (4, None), (5, ""), (6, "x")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(df, "doc_id", "text").collect())
    assert kept == [1, 3, 5, 6]  # one 'hello', one NULL rep, '' distinct, unique
    groups = {tuple(r["dup_ids"]) for r in dedup.exact_duplicates(df, "doc_id", "text").collect()}
    assert (1, 2) in groups and (3, 4) in groups


def test_bpe_ish_token_count_null_is_zero(spark):
    """NULL text counts 0 tokens, same invariant as token_count — the char
    terms used to turn the whole sum NULL (round-14 review catch)."""
    df = spark.createDataFrame([(None,), ("hi, there!",)], "text string")
    got = [r["n"] for r in df.select(textanalysis.bpe_ish_token_count("text").alias("n")).collect()]
    assert got[0] == 0 and got[1] == 4  # 2 words + ',' + '!'


def test_simhash_near_duplicates_kernel_signature_identical(spark, docs):
    """simhash_near_duplicates now routes through simhash_vote_kernel (the
    measured ~4x fast path); the swap is sound because the two signature
    paths share the 2*ones > n majority rule and the empty->0 convention —
    pinned here over the real corpus plus the edge shapes."""
    edge = spark.createDataFrame(
        [(100, ""), (101, None), (102, "one"), (103, "one one two")],
        "doc_id long, text string",
    )
    for frame in (docs.limit(50).select("doc_id", "text"), edge):
        feats = F.transform(
            F.array_distinct(textanalysis.words(F.col("text"))), lambda w: F.xxhash64(w)
        )
        both = frame.select(
            dedup.simhash("text").alias("slow"),
            dedup.simhash_vote_kernel(feats, bits=64).alias("fast"),
        )
        assert both.filter(F.col("slow") != F.col("fast")).count() == 0


# -- gram_bucket_pairs (the r15 fifth verify shape) --------------------------


def _brute_cosine_pairs(rows, threshold):
    """Python reference: all id_a < id_b pairs with cosine >= threshold,
    NULL/zero-norm/ragged-width rows contributing nothing."""
    import itertools

    dim = max(
        (len(v) for _, v in rows if v is not None),
        default=0,
    )
    clean = [(i, np.asarray(v, dtype=np.float64)) for i, v in rows
             if v is not None and len(v) == dim]
    out = {}
    for (ia, va), (ib, vb) in itertools.combinations(sorted(clean), 2):
        if ia == ib:
            continue
        na, nb = np.sqrt((va * va).sum()), np.sqrt((vb * vb).sum())
        if na == 0 or nb == 0:
            continue
        c = float(va @ vb) / (na * nb)
        if c >= threshold:
            out[(ia, ib)] = c
    return out


def test_gram_bucket_pairs_matches_bruteforce_single_group(spark):
    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=16).astype(np.float32).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").withColumn(
        "g", F.lit(0)
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.gram_bucket_pairs(df, ["g"], threshold=0.3).collect()
    }
    want = _brute_cosine_pairs(rows, 0.3)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_gram_bucket_pairs_strip_mining_identical(spark):
    """block_rows smaller than the group must not change the output."""
    rng = np.random.default_rng(6)
    rows = [(i, rng.normal(size=8).astype(np.float32).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").withColumn(
        "g", F.lit(0)
    )
    full = similarity.gram_bucket_pairs(df, ["g"], threshold=0.2).collect()
    strip = similarity.gram_bucket_pairs(df, ["g"], threshold=0.2, block_rows=7).collect()
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    assert sorted(map(key, full)) == sorted(map(key, strip))
    # cosines agree to the last few ulps only: gemm blocking changes the
    # summation order (the docstring's summation-order note) — the
    # query-level F.round(…, 4) absorbs this entirely
    fv = {key(r): r["cosine"] for r in full}
    sv = {key(r): r["cosine"] for r in strip}
    for k in fv:
        assert abs(fv[k] - sv[k]) < 1e-12


def test_gram_bucket_pairs_dirty_rows(spark):
    """NULL vectors and width-deviant vectors drop (their fold cosine is
    NULL); zero-norm rows pair with nothing (NaN fails the threshold);
    duplicate ids emit no self-pair — the HOF-path semantics, preserved."""
    v = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, v), (2, v),                  # true pair, cosine 1.0
        (2, v),                          # duplicate id: no (2,2) self-pair
        (3, None),                       # NULL vector
        (4, [1.0, 0.0]),                 # ragged width
        (5, [0.0, 0.0, 0.0, 0.0]),       # zero norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").withColumn(
        "g", F.lit(0)
    )
    got = similarity.gram_bucket_pairs(df, ["g"], threshold=0.0).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert pairs == {(1, 2)}
    assert all(r["id_a"] != r["id_b"] for r in got)


def test_gram_bucket_pairs_min_band_dedup_exactly_once(spark):
    """With sig/band_bits set, a pair agreeing in SEVERAL bands must be
    emitted exactly once (from its first agreeing band) — the kernel twin
    of the HOF plan's earlier_agree OR-chain."""
    v = [1.0, 2.0, 3.0, 4.0]
    # identical vectors -> identical sigs -> agree on all 4 bands
    rows = [(1, v, 0x1234), (2, v, 0x1234), (3, v, 0x1234)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, sig long")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("sig", 4 * b).bitwiseAND(F.lit(15)).alias("bv"),
            )
            for b in range(4)
        ]
    )
    banded = df.select("vec_id", "sig", "embedding", F.explode(bands).alias("bb")).select(
        "vec_id", "sig", "embedding",
        F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"),
    )
    got = similarity.gram_bucket_pairs(
        banded, ["band", "bv"], threshold=0.9,
        sig_col="sig", band_col="band", band_bits=4,
    ).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in got) == [(1, 2), (1, 3), (2, 3)]


def test_hamming_mih_matches_join_engine(spark):
    """engine='mih' (two-level pigeonhole) must be row-identical to the
    exact join path — same pairs, same hamming, exactly-once emission."""
    rng = np.random.default_rng(9)
    base = int(rng.integers(0, 1 << 56))
    rows = []
    for i in range(40):
        sig = int(rng.integers(0, 1 << 56))
        rows.append((i, sig))
    # planted near pairs: flip 1-2 bits off shared bases (several per base
    # so min-block dedup has multi-band agreements to suppress)
    for k in range(5):
        b = int(rng.integers(0, 1 << 56))
        for j in range(4):
            sig = b ^ (1 << int(rng.integers(0, 56)))
            rows.append((100 + 10 * k + j, sig))
    df = spark.createDataFrame(rows, "id long, sh long")
    join_out = dedup.hamming_blocked_pairs(
        df, max_hamming=2, bits=56, bucket_cap=None
    ).collect()
    kern_out = dedup.hamming_blocked_pairs(
        df, max_hamming=2, bits=56, bucket_cap=None, engine="mih"
    ).collect()
    key = lambda r: (r["id_a"], r["id_b"], r["hamming"], r["is_star"])  # noqa: E731
    assert sorted(map(key, join_out)) == sorted(map(key, kern_out))
    assert len({(r["id_a"], r["id_b"]) for r in kern_out}) == len(kern_out)



def test_hamming_mih_requires_uncapped(spark):
    df = spark.createDataFrame([(1, 3)], "id long, sh long")
    with pytest.raises(ValueError, match="bucket_cap"):
        dedup.hamming_blocked_pairs(df, bucket_cap=8, engine="mih")


def test_hamming_mih_dominant_bucket_corpus(spark):
    """The hot-bucket shape MIH exists for: one base signature with
    1-bit-flip satellites puts every row in one dominant level-1 bucket.
    MIH must agree with the join engine pair-for-pair, emit each pair
    exactly once, and actually produce the dominant bucket's pair mass."""
    rng = np.random.default_rng(13)
    base = int(rng.integers(0, 1 << 56))
    rows = [(i, base ^ (1 << int(rng.integers(0, 56)))) for i in range(120)]
    rows += [(1000 + i, int(rng.integers(0, 1 << 56))) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, sh long")
    mih = dedup.hamming_blocked_pairs(
        df, max_hamming=2, bits=56, bucket_cap=None, engine="mih"
    ).collect()
    join = dedup.hamming_blocked_pairs(
        df, max_hamming=2, bits=56, bucket_cap=None
    ).collect()
    key = lambda r: (r["id_a"], r["id_b"], r["hamming"])  # noqa: E731
    assert sorted(map(key, mih)) == sorted(map(key, join))
    assert len(mih) > 1000  # the dominant bucket's pairs actually flowed
    assert len({(r["id_a"], r["id_b"]) for r in mih}) == len(mih)
