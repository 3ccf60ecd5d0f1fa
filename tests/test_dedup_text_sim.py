"""Dedup, text-analysis, and similarity operators on constructed cases."""

import re

import numpy as np
from pyspark.sql import functions as F

from gstools_core_spark.functions import text as T
from gstools_core_spark.operators import dedup as DD
from gstools_core_spark.operators import similarity as SIM


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
OTHER = "completely different words describing completely different things entirely here now"


def test_exact_dedup(spark):
    df = _docs(spark, [(0, BASE), (1, BASE), (2, OTHER), (3, BASE)])
    out = DD.exact_dedup(df, ["text"], "doc_id").orderBy("doc_id").collect()
    assert [(r["doc_id"], r["dup_count"]) for r in out] == [(0, 3), (2, 1)]


def test_minhash_dedup_drops_near_duplicate(spark):
    df = _docs(spark, [(0, BASE), (1, NEAR), (2, OTHER)])
    kept = DD.minhash_dedup(
        df, "text", "doc_id", threshold=0.5, num_hashes=32, bands=16, shingle_k=3
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 2]  # near-dup 1 dropped, canonical 0 kept


def test_ngram_jaccard_pairs(spark):
    df = _docs(spark, [(0, BASE), (1, NEAR), (2, OTHER)])
    pairs = DD.ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.3).collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(0, 1)}
    # jaccard of shingle sets computed by hand: 12 shingles each, 10 shared
    got = pairs[0]["jaccard"]
    tok = BASE.split()
    sh0 = {" ".join(tok[i : i + 3]) for i in range(len(tok) - 2)}
    tok1 = NEAR.split()
    sh1 = {" ".join(tok1[i : i + 3]) for i in range(len(tok1) - 2)}
    want = len(sh0 & sh1) / len(sh0 | sh1)
    assert abs(got - want) < 1e-12


def test_simhash_near_dups(spark):
    df = _docs(spark, [(0, BASE), (1, NEAR), (2, OTHER)])
    hashed = DD.simhash64(df, "text")
    rows = hashed.collect()
    sims = {r["doc_id"]: r["simhash"] for r in rows}
    ham01 = bin((sims[0] ^ sims[1]) & ((1 << 64) - 1)).count("1")
    ham02 = bin((sims[0] ^ sims[2]) & ((1 << 64) - 1)).count("1")
    assert ham01 < ham02  # near-dup much closer in hamming space
    dups = DD.simhash_near_dups(
        hashed, "doc_id", max_hamming=ham01, min_key_bits=0
    ).collect()
    assert any(r["a_id"] == 0 and r["b_id"] == 1 for r in dups)


def test_token_count_and_quality(spark):
    df = _docs(spark, [(0, "a bb ccc"), (1, "single")])
    out = df.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n"),
        T.quality_score(F.col("text")).alias("q"),
    ).orderBy("doc_id").collect()
    assert out[0]["n"] == 3
    assert out[1]["n"] == 1
    assert 0.0 <= out[0]["q"] <= 1.0


def test_lang_id(spark):
    df = _docs(
        spark,
        [
            (0, "this is the house and the garden of the king"),
            (1, "das ist der mann und der hund und die katze"),
            (2, "c'est le chat et la maison et le chien ici"),
            (3, "xyzzy plugh"),
        ],
    )
    out = {r["doc_id"]: r["lang_guess"] for r in df.select("doc_id", T.lang_id(F.col("text")).alias("lang_guess")).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_fingerprint_deterministic(spark):
    df = _docs(spark, [(0, BASE), (1, BASE), (2, OTHER)])
    out = {r["doc_id"]: r["fp"] for r in df.select("doc_id", T.fingerprint64(F.col("text")).alias("fp")).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_fingerprint_matches_closed_form(spark):
    """Pin fingerprint64 = Σ byte_i · P^(n-i) mod 2^64 (signed int64 view)
    against a pure-Python big-int evaluation, incl. multi-byte utf-8 and
    the empty-string → 0 convention."""
    texts = [BASE, OTHER, "", "héllo wörld ☃", "a"]
    df = _docs(spark, list(enumerate(texts)))
    out = {r["doc_id"]: r["fp"] for r in df.select("doc_id", T.fingerprint64(F.col("text")).alias("fp")).collect()}
    P = 1099511628211
    for i, t in enumerate(texts):
        data = t.encode("utf-8")
        h = 0
        for b in data:
            h = (h * P + b) % (1 << 64)
        h = (h * P) % (1 << 64) if data else 0
        expect = h - (1 << 64) if h >= (1 << 63) else h
        assert out[i] == expect, t


def _emb_df(spark, vecs, id0=0):
    rows = [(id0 + i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_paths_agree(spark):
    rng = np.random.default_rng(3)
    base_v = rng.normal(size=(50, 8))
    base = _emb_df(spark, base_v)
    queries = _emb_df(spark, base_v[:5], id0=0)

    sql_out = SIM.cosine_topk_sql(queries, base, k=3, query_id="vec_id", base_id="vec_id")
    bf_out = SIM.cosine_topk(queries, base, k=3, query_id="vec_id", base_id="vec_id")
    s = {(r["qid"], r["bid"], r["rank"]) for r in sql_out.collect()}
    b = {(r["qid"], r["bid"], r["rank"]) for r in bf_out.collect()}
    assert s == b
    assert len(s) == 15


def test_cosine_topk_arrow_edges(spark):
    """Edge cases of the Arrow-native path: k larger than the base (ranks
    stop at nb, self-match dropped), queries spread over many partitions
    (some Arrow batches empty), and a single-row base."""
    rng = np.random.default_rng(4)
    base_v = rng.normal(size=(4, 8))
    base = _emb_df(spark, base_v)
    queries = _emb_df(spark, base_v[:3], id0=0).repartition(16)  # empty batches
    out = SIM.cosine_topk(queries, base, k=10, query_id="vec_id", base_id="vec_id")
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r["rank"])
    # 4 base vectors minus the self-match = 3 neighbors per query
    assert set(per_q) == {0, 1, 2}
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    one = _emb_df(spark, base_v[:1], id0=1000)
    out1 = SIM.cosine_topk(queries, one, k=5, query_id="vec_id", base_id="vec_id")
    assert out1.count() == 3  # each query gets the single base vector

    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    import pytest

    with pytest.raises(Exception, match="ragged"):
        SIM.cosine_topk(queries, ragged, k=2, query_id="vec_id", base_id="vec_id")


def test_ivf_ann_full_probe_is_exact(spark):
    rng = np.random.default_rng(8)
    base_v = rng.normal(size=(120, 8))
    base = _emb_df(spark, base_v)
    queries = _emb_df(spark, base_v[:6], id0=0)
    exact = SIM.cosine_topk_sql(queries, base, k=3, query_id="vec_id", base_id="vec_id")
    ivf = SIM.ivf_ann(
        queries, base, k=3, query_id="vec_id", base_id="vec_id",
        n_clusters=6, n_probe=6, iters=2,
    )
    e = {(r["qid"], r["bid"], r["rank"]) for r in exact.collect()}
    i = {(r["qid"], r["bid"], r["rank"]) for r in ivf.collect()}
    assert e == i  # probing every cluster = exact


def test_ivf_ann_string_ids_on_numpy_assignment(spark):
    """Past ``_EXPR_MAX_CLUSTERS`` clusters the centroid assignment is a
    mapInArrow; it carries the id column's own type, so string ids give
    the same neighbours as integer ids (regression: it declared long ids
    and failed inside a Python worker)."""
    rng = np.random.default_rng(27)
    base_v = rng.normal(size=(150, 8))
    base = _emb_df(spark, base_v)
    queries = _emb_df(spark, base_v[:6])

    def as_str(df):  # zero-padded, so string order is id order
        return df.select(F.format_string("v%03d", "vec_id").alias("vec_id"), "embedding")

    kw = dict(
        k=3, query_id="vec_id", base_id="vec_id",
        n_clusters=SIM._EXPR_MAX_CLUSTERS + 1, n_probe=4, iters=1,
    )
    want = {
        (f"v{r['qid']:03d}", f"v{r['bid']:03d}", r["rank"])
        for r in SIM.ivf_ann(queries, base, **kw).collect()
    }
    got = SIM.ivf_ann(as_str(queries), as_str(base), **kw).collect()
    assert {(r["qid"], r["bid"], r["rank"]) for r in got} == want


def test_ivf_rerank_arrow_matches_expr(spark):
    """rerank='arrow' (vectorized numpy row-dots, round-6 optimization —
    the expr fold is an interpreted higher-order lambda that breaks
    whole-stage codegen) must be RANK-EQUAL to the expr path: same
    (qid, bid, rank) triples, cos_sim within 1e-12 (the two differ only
    in float summation order, ≤ ~1 ulp on the dot)."""
    rng = np.random.default_rng(13)
    base_v = rng.normal(size=(150, 16))
    base = _emb_df(spark, base_v)
    queries = _emb_df(spark, base_v[:8], id0=0)
    kw = dict(
        k=4, query_id="vec_id", base_id="vec_id",
        n_clusters=8, n_probe=3, iters=2,
    )
    expr = SIM.ivf_ann(queries, base, **kw).collect()
    arrow = SIM.ivf_ann(queries, base, rerank="arrow", **kw).collect()
    e = {(r["qid"], r["bid"]): (r["rank"], r["cos_sim"]) for r in expr}
    a = {(r["qid"], r["bid"]): (r["rank"], r["cos_sim"]) for r in arrow}
    assert set(e) == set(a)
    for key, (rk, cs) in e.items():
        assert a[key][0] == rk
        assert abs(a[key][1] - cs) < 1e-12


def test_ivf_rerank_arrow_rejects_non_integer_ids(spark, tmp_path):
    """rerank='arrow' emits long ids: string ids fail at the API boundary
    with a ValueError naming the column, not inside a Python worker."""
    import pytest

    rng = np.random.default_rng(17)
    base_v = rng.normal(size=(40, 6))
    base = _emb_df(spark, base_v)
    queries = _emb_df(spark, base_v[:4]).withColumn("vec_id", F.col("vec_id").cast("string"))
    kw = dict(k=2, query_id="vec_id", n_probe=2)
    with pytest.raises(ValueError, match="'vec_id' is string"):
        SIM.ivf_ann(queries, base, base_id="vec_id", n_clusters=4, iters=0, rerank="arrow", **kw)
    with pytest.raises(ValueError, match="'vec_id' is string"):
        SIM.ivf_ann(base, queries, base_id="vec_id", n_clusters=4, iters=0, rerank="arrow", **kw)

    idx = str(tmp_path / "idx")
    str_base = base.withColumn("vec_id", F.col("vec_id").cast("string"))
    SIM.ivf_index_write(str_base, idx, base_id="vec_id", n_clusters=4, iters=0)
    with pytest.raises(ValueError, match="'bid' is string"):
        SIM.ivf_ann_from_index(_emb_df(spark, base_v[:4]), idx, rerank="arrow", **kw)


def test_ivf_ann_partial_probe_recall(spark):
    rng = np.random.default_rng(9)
    base_v = rng.normal(size=(200, 8))
    base = _emb_df(spark, base_v)
    queries = _emb_df(spark, base_v[:10], id0=0)
    exact = SIM.cosine_topk_sql(queries, base, k=3, query_id="vec_id", base_id="vec_id")
    ivf = SIM.ivf_ann(
        queries, base, k=3, query_id="vec_id", base_id="vec_id",
        n_clusters=8, n_probe=4, iters=2,
    )
    e = {(r["qid"], r["bid"]) for r in exact.collect()}
    i = {(r["qid"], r["bid"]) for r in ivf.collect()}
    recall = len(e & i) / len(e)
    assert recall >= 0.6, recall


def test_ivf_index_round_trip(spark, tmp_path):
    """ivf_index_write → ivf_ann_from_index must reproduce ivf_ann exactly
    under the deterministic iters=0 quantizer (build-once/query-many is
    the production ANN shape; ivf_ann retrains per call), the persisted
    layout must be cluster-partitioned (partition-pruned probes), and the
    pruned query must only touch the probed partitions."""
    rng = np.random.default_rng(21)
    base_v = rng.normal(size=(240, 12))
    base = _emb_df(spark, base_v)
    queries = _emb_df(spark, base_v[:9], id0=0)

    meta = SIM.ivf_index_write(
        base, str(tmp_path / "idx"), base_id="vec_id", n_clusters=12, iters=0
    )
    assert meta == {"n_clusters": 12, "n_vectors": 240}
    # cluster-partitioned layout on disk
    parts = [p.name for p in (tmp_path / "idx" / "lists").iterdir() if p.is_dir()]
    assert parts and all(p.startswith("cluster=") for p in parts)

    want = SIM.ivf_ann(
        queries, base, k=4, query_id="vec_id", base_id="vec_id",
        n_clusters=12, n_probe=3, iters=0,
    ).collect()
    got_df = SIM.ivf_ann_from_index(
        queries, str(tmp_path / "idx"), k=4, query_id="vec_id", n_probe=3
    )
    got = got_df.collect()
    assert sorted(
        [(r["qid"], r["bid"], r["rank"], round(r["cos_sim"], 12)) for r in got],
        key=lambda t: t[:2],
    ) == sorted(
        [(r["qid"], r["bid"], r["rank"], round(r["cos_sim"], 12)) for r in want],
        key=lambda t: t[:2],
    )
    # the probed-cluster filter reaches the scan as a NON-EMPTY partition
    # filter (a bare "cluster#" substring would match any plan that merely
    # references the column — pin the pruning itself, not the reference)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cluster", plan), plan


def test_ivf_index_write_more_clusters_than_rows(spark, tmp_path):
    """Requesting n_clusters > N must clamp to the actual row count (the
    init limit() yields only N rows) — previously ivf_index_write raised
    IndexError enumerating a 12-row centroid matrix that had 8 rows, and
    the persisted meta overstated n_clusters."""
    rng = np.random.default_rng(33)
    base_v = rng.normal(size=(8, 6))
    base = _emb_df(spark, base_v)
    meta = SIM.ivf_index_write(
        base, str(tmp_path / "idx8"), base_id="vec_id", n_clusters=12, iters=0
    )
    assert meta == {"n_clusters": 8, "n_vectors": 8}
    queries = _emb_df(spark, base_v[:3], id0=0)
    got = SIM.ivf_ann_from_index(
        queries, str(tmp_path / "idx8"), k=2, query_id="vec_id", n_probe=8
    )
    exact = SIM.cosine_topk_sql(queries, base, k=2, query_id="vec_id", base_id="vec_id")
    assert {(r["qid"], r["bid"], r["rank"]) for r in got.collect()} == {
        (r["qid"], r["bid"], r["rank"]) for r in exact.collect()
    }


def test_lsh_sketch_arrow_matches_expr(spark):
    """The Arrow matmul sketch path (scale) must produce the same sketches
    and the same lsh_ann output as the expr fold path (oracle) — the only
    permitted divergence is a |dot| within ~1 ulp of zero, which random
    normal data never hits."""
    rng = np.random.default_rng(17)
    base_v = rng.normal(size=(300, 24))
    base = _emb_df(spark, base_v)

    expr_sk = {
        r["vec_id"]: r["sketch"]
        for r in SIM.hyperplane_sketch(base, "embedding", 24, 16, seed=5)
        .select("vec_id", "sketch")
        .collect()
    }
    arrow_sk = {
        r["vec_id"]: r["sketch"]
        for r in SIM.hyperplane_sketch_arrow(
            base, "vec_id", "embedding", 24, 16, seed=5
        ).collect()
    }
    assert arrow_sk == expr_sk

    q = _emb_df(spark, base_v[:12], id0=0)
    want = SIM.lsh_ann(
        q, base, k=3, dim=24, query_id="vec_id", base_id="vec_id"
    ).collect()
    got = SIM.lsh_ann(
        q, base, k=3, dim=24, query_id="vec_id", base_id="vec_id", impl="arrow"
    ).collect()
    assert sorted(
        [(r["qid"], r["bid"], r["rank"]) for r in got], key=lambda t: (t[0], t[2])
    ) == sorted(
        [(r["qid"], r["bid"], r["rank"]) for r in want], key=lambda t: (t[0], t[2])
    )


def test_lsh_ann_finds_identical_vector(spark):
    rng = np.random.default_rng(4)
    base_v = rng.normal(size=(100, 16))
    base = _emb_df(spark, base_v)
    # query 0 is identical to base 7
    qv = base_v[7:8]
    q = _emb_df(spark, qv, id0=1000)
    out = SIM.lsh_ann(q, base, k=1, dim=16, query_id="vec_id", base_id="vec_id").collect()
    assert out and out[0]["bid"] == 7 and abs(out[0]["cos_sim"] - 1.0) < 1e-9


def test_simhash_pigeonhole_spread_mismatches(spark):
    """Round-1 regression: a hamming-16 pair whose mismatches hit all 4 of
    the legacy 16-bit bands (4 per band) — legacy banding found zero agreeing
    bands and silently missed it; n_bands = max_hamming + 1 must find it."""
    bits = [0, 4, 8, 12, 16, 20, 24, 28, 32, 36, 40, 44, 48, 52, 56, 60]
    sim_b = 0
    for k in bits:
        sim_b |= 1 << k
    df = spark.createDataFrame([(0, 0), (1, sim_b)], "doc_id long, simhash long")
    out = DD.simhash_near_dups(df, "doc_id", max_hamming=16, min_key_bits=0).collect()
    assert len(out) == 1 and out[0]["hamming"] == 16

    # the legacy configuration is now a hard error, not silent recall loss
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_near_dups(df, "doc_id", max_hamming=16, n_bands=4)


def _md5_int(s: str, lo: int = 0) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[lo : lo + 15], 16)


def test_minhash_signature_rows_are_distinct(spark):
    """Pin every signature row against a pure-Python evaluation of the
    affine family.  Regression for the PySpark 4.1 lambda-collapse bug:
    N same-shaped F.transform lambdas differing only in captured literals
    silently all evaluated as the FIRST one, degenerating all signature
    rows to copies of row 0 (found: every 64-entry signature had exactly 1
    distinct value on the sf0.01 corpus)."""
    texts = [(0, BASE), (1, OTHER)]
    sigs = {
        r["doc_id"]: list(r["signature"])
        for r in DD.minhash_signature(_docs(spark, texts), "text", 16, 3)
        .select("doc_id", "signature")
        .collect()
    }
    P = DD._MH_PRIME

    def shingles(t, k=3):
        toks = t.split(" ")
        if len(toks) < k:
            return [" ".join(toks)]
        return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))

    for doc_id, text in texts:
        hs = [_md5_int(s) % P for s in shingles(text)]
        want = [
            min((h * a + b) % P for h in hs) for a, b in DD.mh_params(16)
        ]
        assert sigs[doc_id] == want
        assert len(set(want)) > 1  # the degenerate form can't pass this


def test_mh_params_decorrelate_argmins():
    """Adversarial case for the original small-coefficient family
    (a_i = 2i+1): two shingle sets sharing only their MINIMUM base hash
    produced identical full signatures (every a·h_min + b stayed minimal
    for every i), so all bands collided — ~n²·J false candidate pairs at
    corpus scale.  With the spread family the per-hash match probability
    is the Jaccard (~1/61 here): assert near-independence."""
    rng = np.random.default_rng(3)
    P = DD._MH_PRIME
    common = 1234  # far below every other draw → the shared min base hash
    A = [common] + [int(v) for v in rng.integers(P // 2, P, 30)]
    B = [common] + [int(v) for v in rng.integers(P // 2, P, 30)]
    params = DD.mh_params(64)
    sig_a = [min((a * h + b) % P for h in A) for a, b in params]
    sig_b = [min((a * h + b) % P for h in B) for a, b in params]
    matches = sum(x == y for x, y in zip(sig_a, sig_b))
    # E[matches] = 64·J ≈ 1; the old family scored 64/64 here
    assert matches <= 16, matches


def test_simhash64_matches_reference(spark):
    """Pin simhash64 bit-for-bit against a pure-Python evaluation (bits
    0..59 from md5 hex 1..15, 60..63 from hex 16..30) — guards the
    64-aggregate construction against the same lambda-collapse class."""
    texts = [(0, BASE), (1, OTHER)]
    got = {
        r["doc_id"]: r["simhash"]
        for r in DD.simhash64(_docs(spark, texts), "text").collect()
    }
    for doc_id, text in texts:
        toks = text.split(" ")
        sim = 0
        for k in range(64):
            if k < 60:
                s = sum(((_md5_int(t) >> k) & 1) * 2 - 1 for t in toks)
            else:
                s = sum(((_md5_int(t, 15) >> (k - 60)) & 1) * 2 - 1 for t in toks)
            if s > 0:
                sim |= 1 << k
        if sim >= 1 << 63:
            sim -= 1 << 64
        assert got[doc_id] == sim


def test_minhash_dedup_transitive_components(spark):
    """A~C and B~C but A≁B (C blends both): single-pass keeps {A, B};
    transitive component resolution keeps only the component min {A}."""
    a_toks = " ".join(f"a{i}" for i in range(10))
    b_toks = " ".join(f"b{i}" for i in range(10))
    df = _docs(spark, [(0, a_toks), (1, b_toks), (2, a_toks + " " + b_toks)])
    kw = dict(threshold=0.45, num_hashes=64, bands=32, shingle_k=1)

    single = DD.minhash_dedup(df, "text", "doc_id", **kw)
    assert {r["doc_id"] for r in single.collect()} == {0, 1}

    trans = DD.minhash_dedup(df, "text", "doc_id", transitive=True, **kw)
    assert {r["doc_id"] for r in trans.collect()} == {0}


def test_minhash_dedup_transitive_plans_agree(spark, partitioned_plan):
    """transitive=True keeps the same documents whether the components of
    its duplicate-pair edge list are contracted locally (small edge list)
    or by the distributed star rounds (broadcast threshold -1)."""
    rng = np.random.default_rng(41)
    rows, doc_ids = [], rng.permutation(1000)[:32].tolist()
    for chain in range(4):  # neighbours in a chain share 9 of 10 tokens
        for i in range(8):
            toks = " ".join(f"t{chain * 100 + i + j}" for j in range(10))
            rows.append((doc_ids[chain * 8 + i], toks))
    df = _docs(spark, rows)
    kw = dict(threshold=0.7, num_hashes=64, bands=32, shingle_k=1, transitive=True)

    local = {r["doc_id"] for r in DD.minhash_dedup(df, "text", "doc_id", **kw).collect()}
    with partitioned_plan():
        dist = DD.minhash_dedup(df, "text", "doc_id", **kw)
    assert {r["doc_id"] for r in dist.collect()} == local
    assert 4 <= len(local) < len(rows) // 2


def test_simhash_combination_banding_worst_case(spark):
    """Combination banding (key_blocks=2 over 6 blocks, max_hamming=4):
    dirty 4 DIFFERENT blocks so only one 2-block combination stays intact —
    the pair must still surface; one block fewer violates pigeonhole and
    raises."""
    import pytest

    widths = DD.simhash_band_widths(6)
    sim_b = 0
    for b in range(4):  # one flipped bit in each of blocks 0..3
        sim_b |= 1 << widths[b][0]
    df = spark.createDataFrame([(0, 0), (1, sim_b)], "doc_id long, simhash long")
    out = DD.simhash_near_dups(
        df, "doc_id", max_hamming=4, n_bands=6, key_blocks=2
    ).collect()
    assert len(out) == 1 and out[0]["hamming"] == 4

    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_near_dups(df, "doc_id", max_hamming=4, n_bands=5, key_blocks=2)


def _to_i64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def test_simhash_combination_banding_matches_bruteforce(spark):
    """Wide-key banding returns EXACTLY the all-pairs popcount ≤ 4 set
    (superset candidates + exact verify ⇒ no false positives, pigeonhole ⇒
    no false negatives) on a corpus seeded with ≤4-bit perturbed copies."""
    rng = np.random.default_rng(7)
    sims = [int(v) for v in rng.integers(-(2**63), 2**63, size=40, dtype=np.int64)]
    for i in range(15):
        v = sims[i]
        for b in rng.choice(64, size=int(rng.integers(1, 5)), replace=False):
            v ^= 1 << int(b)
        sims.append(_to_i64(v))
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sims)], "doc_id long, simhash long"
    )
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in DD.simhash_near_dups(
            df, "doc_id", max_hamming=4, n_bands=6, key_blocks=2
        ).collect()
    }
    want = set()
    for i in range(len(sims)):
        for j in range(i + 1, len(sims)):
            h = bin((sims[i] ^ sims[j]) & ((1 << 64) - 1)).count("1")
            if h <= 4:
                want.add((i, j, h))
    assert got == want
    assert len(want) >= 10


def test_simhash_hamming_zero_whole_hash_key(spark):
    """max_hamming=0 → one 64-bit band (whole-hash bucket key): must find
    exactly the equal-sim pairs, not crash on the 2^64-1 mask literal."""
    df = spark.createDataFrame(
        [(0, 42), (1, 42), (2, -7)], "doc_id long, simhash long"
    )
    out = DD.simhash_near_dups(df, "doc_id", max_hamming=0).collect()
    assert [(r["a_id"], r["b_id"], r["hamming"]) for r in out] == [(0, 1, 0)]


def test_simhash_sign_bit_pair(spark):
    """Pairs differing in bit 63 (the sign bit) still verify correctly."""
    df = spark.createDataFrame(
        [(0, 0), (1, -9223372036854775808)], "doc_id long, simhash long"
    )
    out = DD.simhash_near_dups(df, "doc_id", max_hamming=3, min_key_bits=0).collect()
    assert len(out) == 1 and out[0]["hamming"] == 1


def test_simhash_narrow_key_guard(spark):
    """Scale guard: radius-16 single-block banding (17 bands of ~4-bit
    keys → ~16 buckets per band) must NOT ship silently — it raises unless
    the caller explicitly opts out with min_key_bits=0.  The registered
    combination-banding config (6 blocks, 2-block keys → ≥20-bit keys)
    passes the default guard."""
    import pytest

    df = spark.createDataFrame([(0, 0), (1, 3)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="buckets per band"):
        DD.simhash_near_dups(df, "doc_id", max_hamming=16)
    # explicit opt-out still works (small corpora / tests)
    out = DD.simhash_near_dups(df, "doc_id", max_hamming=16, min_key_bits=0).collect()
    assert len(out) == 1
    # the scale-sane combination banding clears the default guard
    out = DD.simhash_near_dups(
        df, "doc_id", max_hamming=4, n_bands=6, key_blocks=2
    ).collect()
    assert len(out) == 1 and out[0]["hamming"] == 2


def test_simhash_default_args_are_scale_sane(spark):
    """DEFAULT arguments must both work and clear the min_key_bits guard:
    key_blocks=None auto-picks the smallest combination size whose
    narrowest key is ≥ min_key_bits (max_hamming=3 → key_blocks=2,
    C(5,2)=10 bands of ≥25-bit keys) — and still returns exactly the
    brute-force popcount ≤ 3 pair set."""
    rng = np.random.default_rng(11)
    sims = [int(v) for v in rng.integers(-(2**63), 2**63, size=25, dtype=np.int64)]
    for i in range(10):
        v = sims[i]
        for b in rng.choice(64, size=int(rng.integers(1, 4)), replace=False):
            v ^= 1 << int(b)
        sims.append(_to_i64(v))
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sims)], "doc_id long, simhash long"
    )
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in DD.simhash_near_dups(df, "doc_id").collect()  # all defaults
    }
    want = set()
    for i in range(len(sims)):
        for j in range(i + 1, len(sims)):
            h = bin((sims[i] ^ sims[j]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want.add((i, j, h))
    assert got == want
    assert len(want) >= 8


def test_ngram_uncapped_warns(spark):
    """max_df=None (quadratic posting-list join) emits the scale warning;
    the capped path stays silent."""
    import warnings

    import pytest

    df = _docs(spark, [(0, BASE), (1, NEAR), (2, OTHER)])
    with pytest.warns(UserWarning, match="uncapped"):
        DD.ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.3).count()
    with warnings.catch_warnings():
        # only the contract under test — unrelated Deprecation/FutureWarnings
        # from pyspark/pandas minors must not fail this
        warnings.simplefilter("error", UserWarning)
        DD.ngram_jaccard_pairs(
            df, "text", "doc_id", k=3, threshold=0.3, max_df=100
        ).count()


def test_ngram_jaccard_max_df_caps_hot_shingle(spark):
    """One stop-shingle shared by many docs: with max_df it no longer
    generates candidates (the quadratic hot key), while genuinely similar
    pairs are still found with their EXACT jaccard."""
    rows = [(i, f"zzz yyy xxx u{i} v{i} w{i}") for i in range(8)]
    rows += [(100, "aaa bbb ccc ddd"), (101, "aaa bbb ccc ddd")]
    df = _docs(spark, rows)

    uncapped = DD.ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.1)
    assert uncapped.count() == 8 * 7 // 2 + 1  # hot-shingle pairs + the dup

    capped = DD.ngram_jaccard_pairs(
        df, "text", "doc_id", k=3, threshold=0.1, max_df=3
    ).collect()
    assert {(r["a_id"], r["b_id"]) for r in capped} == {(100, 101)}
    assert capped[0]["jaccard"] == 1.0  # exact jaccard, full shingle sets


def test_ivf_ann_recall_at_scale(spark):
    """10^4 base vectors, default n_clusters ≈ √N, Lloyd-trained quantizer:
    recall ≥ 0.9 against brute-force ground truth (VERDICT r1 #8)."""
    rng = np.random.default_rng(77)
    n, d, n_centers = 10_000, 32, 100
    centers = rng.normal(size=(n_centers, d))
    assign = rng.integers(0, n_centers, size=n)
    base_v = centers[assign] + 0.1 * rng.normal(size=(n, d))
    base = _emb_df(spark, base_v)
    q_idx = rng.choice(n, size=20, replace=False)
    queries = _emb_df(spark, base_v[q_idx], id0=100_000)

    k = 10
    out = SIM.ivf_ann(
        queries, base, k=k, query_id="vec_id", base_id="vec_id",
        n_probe=8, iters=2,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["qid"], set()).add(r["bid"])

    B = base_v / np.linalg.norm(base_v, axis=1, keepdims=True)
    hits = total = 0
    for qi, qrow in zip(q_idx, range(len(q_idx))):
        sims = B @ B[qi]
        sims[qi] = -np.inf  # qid (100000+i) never equals bid, but the true
        # top-k from brute force must also skip the identical vector? No —
        # ids differ, so the identical base vector IS a legitimate neighbor.
        sims[qi] = (B[qi] @ B[qi])
        top = set(np.argsort(-sims, kind="stable")[:k].tolist())
        hits += len(top & got.get(100_000 + qrow, set()))
        total += k
    assert total == 200
    assert hits / total >= 0.9, hits / total


def test_clear_tracked_releases_caches(spark):
    from gstools_core_spark.operators.cache import clear_tracked

    df = _docs(spark, [(0, BASE), (1, NEAR), (2, OTHER)])
    DD.minhash_dedup(df, "text", "doc_id", num_hashes=16, bands=4, shingle_k=3).count()
    DD.ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.3).count()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.isEmpty()
    assert clear_tracked() >= 2
    assert cm.isEmpty()
