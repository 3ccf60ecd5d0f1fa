"""Deduplication operators for the large-scale training-data pipeline layer.

All candidate generation is JVM-side (array ops, equi-joins on bucket keys —
never a cross join); no per-row Python anywhere.  Scale shape:
shingle→signature is a per-row map (no shuffle); candidate pairing is an
equi-join on (band, bucket) keys; verification touches only candidate pairs.

Hashing is PORTABLE by default (md5-derived integers, functions/hashing.py)
so every operator here is differentially testable against a DuckDB oracle;
pass ``hash_fn="xx"`` for xxhash64 when that isn't needed (~5-10× faster
hash, same plan shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gstools_core_spark.functions import hashing as H

# a large prime < 2^31 for the affine minhash family
_MH_PRIME = 2147483647


def mh_params(num_hashes: int) -> list[tuple[int, int]]:
    """(a_i, b_i) for the affine minhash family h_i(x) = (a_i·x + b_i) mod p.

    The coefficients are spread over the whole field via Knuth
    multiplicative-hash constants — NOT small integers: with a_i = 2i+1
    (the original family) the argmin shingle barely changes across i, so
    two documents sharing their minimum base hash got near-identical FULL
    signatures and every band collided — measured ~n²·J false candidate
    pairs at 200k docs (the exact verify rejected them, but the verify
    join itself degenerated quadratic).  a_i < p keeps a·h + b < 2^62 + p,
    inside both Spark's long and DuckDB's BIGINT (p is prime, so any
    a ≢ 0 is a bijection mod p)."""
    return [
        (
            ((i + 1) * 2654435761) % _MH_PRIME,
            ((i + 7) * 2654446091 + 12345) % _MH_PRIME,
        )
        for i in range(num_hashes)
    ]


def _str_hash(c: Column, hash_fn: str) -> Column:
    return F.xxhash64(c) if hash_fn == "xx" else H.portable_hash(c)


def exact_dedup(df: DataFrame, key_cols, id_col: str) -> DataFrame:
    """Keep one row (smallest id) per exact key; adds dup_count."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    cnt = Window.partitionBy(*key_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(cnt))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles_col(text: Column, k: int = 5) -> Column:
    """Distinct word-level k-shingles as an array<string> (JVM-side)."""
    tokens = F.split(text, " ")
    n = F.size(tokens)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.concat_ws(" ", F.slice(tokens, i, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", tokens)))
    )


def minhash_signature(
    df: DataFrame,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    hash_fn: str = "portable",
) -> DataFrame:
    """Append ``shingles`` and a ``signature`` array<long> of length
    ``num_hashes``: sig_i = min over shingles of (a_i·h(s)+b_i) mod prime,
    with h the base hash folded into [0, prime) (keeps the affine multiply
    below 2^62 — DuckDB errors on 64-bit overflow, Spark wraps)."""
    sh = shingles_col(F.col(text_col), shingle_k)
    base = df.withColumn("shingles", sh)
    hashed = F.transform(
        F.col("shingles"), lambda s: F.pmod(_str_hash(s, hash_fn), F.lit(_MH_PRIME))
    )
    base = base.withColumn("_sh_hash", hashed)
    # ONE nested transform over a literal (a_i, b_i) params array — NOT one
    # F.transform per i: PySpark 4.1 collapses same-shaped higher-order
    # lambdas that differ only in captured literals to the FIRST lambda
    # (subexpression elimination over namedlambdavariables), which silently
    # turned all num_hashes rows into copies of row 0 (degenerate
    # signatures, massive LSH recall loss).  Pinned by
    # test_minhash_signature_rows_are_distinct.
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in mh_params(num_hashes)
        ]
    )
    sig = F.transform(
        params,
        lambda p: F.array_min(
            F.transform(
                F.col("_sh_hash"),
                lambda h: F.pmod(h * p["a"] + p["b"], F.lit(_MH_PRIME)),
            )
        ),
    )
    return base.withColumn("signature", sig).drop("_sh_hash")


def minhash_lsh_candidates(
    sigs: DataFrame, id_col: str, bands: int = 8, rows_per_band: int = 8,
    hash_fn: str = "portable",
) -> DataFrame:
    """LSH banding: docs sharing any band become a candidate pair (a < b).
    One explode + one self equi-join on (band, band-content key).

    ``portable``: the key is the band's literal signature slice joined as a
    string — exact bucket semantics, mirrored 1:1 by the SQL oracle.
    ``xx``: the key is xxhash64 of that slice — a long join key (smaller
    shuffle, cheaper compares; collision odds ~2⁻⁶⁴ per pair, and any
    collision only ADDS a candidate that exact verification then rejects).
    """
    if rows_per_band < 1:
        raise ValueError(
            f"rows_per_band ({rows_per_band}) must be >= 1 — a zero-width "
            "band key degenerates the self-join to all pairs"
        )

    def band_key(b: int):
        k = F.concat_ws(
            ",",
            *[
                F.col("signature")[b * rows_per_band + r].cast("string")
                for r in range(rows_per_band)
            ],
        )
        return F.xxhash64(k) if hash_fn == "xx" else k

    banded = sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*[band_key(b) for b in range(bands)])).alias(
            "band", "bucket"
        ),
    )
    a = banded.select(F.col(id_col).alias("a_id"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("b_id"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame, sigs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs → (a_id, b_id, jaccard)."""
    sh = sigs.select(F.col(id_col), F.col("shingles"))
    joined = (
        candidates.join(sh.withColumnRenamed(id_col, "a_id").withColumnRenamed("shingles", "a_sh"), "a_id")
        .join(sh.withColumnRenamed(id_col, "b_id").withColumnRenamed("shingles", "b_sh"), "b_id")
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
    return (
        joined.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    hash_fn: str = "portable",
    transitive: bool = False,
) -> DataFrame:
    """Near-dup removal: a doc is dropped if it verifies ≥threshold Jaccard
    against any candidate with a smaller id (single-pass canonicalization —
    the standard web-dedup contract).

    ``transitive=True`` resolves the verified-pair graph to CONNECTED
    COMPONENTS first (operators/graph.py star contraction) and keeps only
    each component's minimum id: docs similar only THROUGH an intermediate
    (A~C, B~C, A≁B) collapse to one survivor instead of two.  Costs one
    checkpoint of the duplicate-pair edge list, then either one collect
    and a driver-side contraction (an edge list under the broadcast
    bound) or O(log² n) distributed star rounds over that edge list only
    — the corpus-sized tables are untouched."""
    from gstools_core_spark.operators.cache import track

    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"bands ({bands}) must be in [1, num_hashes={num_hashes}] — "
            "bands > num_hashes gives empty band keys and an all-pairs join"
        )
    # persist the signature table: the band self-join and the verify join
    # each read it from both sides — without this the (expensive) shingle +
    # signature expressions recompute 4×.  At warehouse scale this is the
    # materialized signatures table.  Tracked for cache.clear_tracked().
    sigs = track(minhash_signature(df, text_col, num_hashes, shingle_k, hash_fn).persist())
    cands = minhash_lsh_candidates(sigs, id_col, bands, num_hashes // bands, hash_fn)
    verified = jaccard_verify(cands, sigs, id_col, threshold)
    if transitive:
        from gstools_core_spark.operators.graph import connected_components

        comp = connected_components(verified, "a_id", "b_id")
        dups = (
            comp.where(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
        )
    else:
        dups = verified.select(F.col("b_id").alias(id_col)).distinct()
    return df.join(dups, id_col, "left_anti")


def simhash64(
    df: DataFrame, text_col: str, out_col: str = "simhash", hash_fn: str = "portable"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, fully JVM-side:
    bit k of the hash = sign of Σ_tokens (2·bit_k(h(token)) − 1).

    With the portable hash, bits 0..59 come from h1 (md5 hex 1..15) and
    bits 60..63 from the low bits of h2 (md5 hex 16..30) — the same bit
    source the SQL oracle reads.  The xx path draws h2 from
    ``xxhash64(token, 977)`` — hashing 977 as an EXTRA COLUMN, not a seed
    (Spark's xxhash64 seed is fixed at 42); that still yields a hash
    function independent of h1, which is all the entropy argument needs —
    whereas ``h1 >> 32`` would make bits 60..63 exact copies of bits
    32..35 (hamming double-counting, missed pairs, 60 bits of effective
    entropy).  Do NOT "fix" the 977 into a real seed: it would silently
    change every persisted simhash.

    The per-k aggregate lambdas below differ in the PYTHON int ``k``
    passed to shiftrightunsigned (a literal in the expression, not a
    captured lambda variable) — the CLAUDE.md PySpark-4.1 lambda-collapse
    class; test_simhash64_matches_reference pins every bit row-for-row
    against a pure-Python reference, so a Spark point release extending
    CSE to these shapes fails loudly, not silently."""
    tokens = F.split(F.col(text_col), " ")
    if hash_fn == "xx":
        tok_h1 = F.transform(tokens, lambda t: F.xxhash64(t))
        tok_h2 = F.transform(tokens, lambda t: F.xxhash64(t, F.lit(977)))
    else:
        tok_h1 = F.transform(tokens, lambda t: H.portable_hash(t))
        tok_h2 = F.transform(tokens, lambda t: H.portable_hash2(t))
    # materialize the hashed-token arrays ONCE: the 64 bit-sum aggregates
    # below would otherwise each embed (and re-evaluate) the full md5/xx
    # token-hash expression tree — interpreted HOFs get no reliable CSE,
    # so the portable path recomputed every token hash ~60× per row
    base = df.withColumn("_th1", tok_h1).withColumn("_th2", tok_h2)

    def _bit_sum(arr: Column, k: int):
        def merge(acc, h):
            return acc + F.shiftrightunsigned(h, k).bitwiseAND(F.lit(1)) * 2 - 1

        return F.aggregate(arr, F.lit(0).cast("long"), merge)

    sim = None
    for k in range(64):
        s = (
            _bit_sum(F.col("_th1"), k)
            if k < 60
            else _bit_sum(F.col("_th2"), k - 60)
        )
        bit = F.when(s > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, k)
        sim = term if sim is None else sim.bitwiseOR(term)
    return base.withColumn(out_col, sim).drop("_th1", "_th2")


def simhash_band_widths(n_bands: int, n_bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) per band, distributing ``n_bits`` as evenly as
    possible (first ``n_bits % n_bands`` bands get the extra bit)."""
    base, rem = divmod(n_bits, n_bands)
    out, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < rem else 0)
        out.append((off, w))
        off += w
    return out


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    max_hamming: int = 3,
    n_bands: int | None = None,
    key_blocks: int | None = None,
    min_key_bits: int = 20,
) -> DataFrame:
    """ALL pairs within Hamming distance ≤ max_hamming via banding + exact
    popcount verify → (a_id, b_id, hamming).

    Soundness (pigeonhole): a pair with ≤ max_hamming mismatched bits over
    ``n_bands`` disjoint blocks keeps ≥ n_bands − max_hamming blocks
    intact; as long as that is ≥ ``key_blocks``, SOME size-``key_blocks``
    combination of blocks is fully intact, so keying every combination
    yields a candidate SUPERSET of the true pairs.  Requires
    ``n_bands − max_hamming ≥ key_blocks`` (anything less raises — the
    round-1 bug: 4 bands with max_hamming=16 silently missed spread-out
    mismatches).  Default n_bands = max_hamming + key_blocks.

    Scale note (Manku et al., WWW'07 combination banding): with single-
    block keys the bucket space is only 2^(64/n_bands) — at web scale the
    in-bucket pairing turns quadratic.  ``key_blocks = s > 1`` concatenates
    every s-subset of blocks into one key of ~s·64/n_bands bits:
    C(n_bands, s) × wider buckets trades explode fan-out for an
    exponentially larger key space (e.g. max_hamming=3, n_bands=6, s=3 →
    20 bands of ~32-bit keys instead of 4 bands of 16-bit keys).  For
    max_hamming ≳ 16 over 64 bits no banding keeps wide keys — use a
    smaller radius or pre-split buckets by a cheap doc attribute.

    ``min_key_bits`` guards that trade-off: the narrowest band key must be
    at least this many bits (default 20 → ≥2^20 buckets per band), else a
    ValueError explains the quadratic in-bucket blowup — a radius-16
    single-block banding (17 bands of ~4-bit keys) cannot ship silently.
    Pass ``min_key_bits=0`` to opt out explicitly (tiny corpora / tests).

    ``key_blocks=None`` (default) picks the SMALLEST combination size whose
    narrowest key clears ``min_key_bits`` — e.g. max_hamming=3 → key_blocks=2
    (C(5,2)=10 bands of ≥25-bit keys), so the defaults are always scale-sane
    and never trip the guard for radii that admit a sound banding at all.
    """
    import itertools
    import math

    if key_blocks is None:
        key_blocks = 1
        while True:
            nb = n_bands if n_bands is not None else max_hamming + key_blocks
            if nb - max_hamming >= key_blocks and nb <= 64:
                w = simhash_band_widths(nb)
                if sum(sorted(x for _, x in w)[:key_blocks]) >= min_key_bits:
                    if math.comb(nb, key_blocks) <= 1024:
                        break  # found the smallest sound+wide-enough size
            if (n_bands is not None and key_blocks >= nb) or key_blocks >= 64:
                key_blocks = 1  # no sound choice — fall through to the guard
                break
            key_blocks += 1
    if n_bands is None:
        n_bands = max_hamming + key_blocks
    if key_blocks < 1:
        raise ValueError("key_blocks must be >= 1")
    if n_bands - max_hamming < key_blocks:
        raise ValueError(
            f"n_bands ({n_bands}) must be >= max_hamming ({max_hamming}) + "
            f"key_blocks ({key_blocks}) — pigeonhole recall guarantee would "
            "be violated"
        )
    if n_bands > 64:
        raise ValueError("n_bands must be <= 64 (64-bit simhash)")
    n_combos = math.comb(n_bands, key_blocks)
    if n_combos > 1024:
        raise ValueError(
            f"C({n_bands}, {key_blocks}) = {n_combos} band combinations — "
            "explode fan-out too large; lower key_blocks or n_bands"
        )
    widths = simhash_band_widths(n_bands)
    # narrowest combination key = the key_blocks smallest block widths
    min_key_width = sum(sorted(w for _, w in widths)[:key_blocks])
    if min_key_width < min_key_bits:
        raise ValueError(
            f"narrowest band key is {min_key_width} bits (< min_key_bits="
            f"{min_key_bits}): only 2^{min_key_width} buckets per band, so "
            "in-bucket pairing degenerates quadratic at corpus scale — "
            "raise key_blocks (combination banding), lower max_hamming, "
            "pre-split by a doc attribute, or pass min_key_bits=0 to "
            "accept the blowup on a small corpus"
        )

    def block(off: int, w: int) -> Column:
        shifted = F.shiftrightunsigned(F.col(sim_col), off)
        if w >= 64:  # whole-hash key (max_hamming=0): 2^64-1 overflows a long
            return shifted
        return shifted.bitwiseAND(F.lit((1 << w) - 1))

    def combo_key(combo: tuple[int, ...]) -> Column:
        key = block(*widths[combo[0]])
        for b in combo[1:]:
            off, w = widths[b]
            key = F.shiftleft(key, w).bitwiseOR(block(off, w))
        return key

    bands = F.array(
        *[
            F.struct(F.lit(i).alias("band"), combo_key(combo).alias("bucket"))
            for i, combo in enumerate(
                itertools.combinations(range(n_bands), key_blocks)
            )
        ]
    )
    from gstools_core_spark.operators.cache import track

    keyed = track(
        df.select(F.col(id_col), F.col(sim_col))
        .withColumn("_b", F.explode(bands))
        .select(id_col, sim_col, "_b.band", "_b.bucket")
        .persist()  # read from both sides of the band self-join
    )
    a = keyed.select(
        F.col(id_col).alias("a_id"), F.col(sim_col).alias("a_sim"), "band", "bucket"
    )
    b = keyed.select(
        F.col(id_col).alias("b_id"), F.col(sim_col).alias("b_sim"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
            .cast("long")
            .alias("hamming"),
        )
        # verify BEFORE distinct: hamming is cheap/codegen'd and per-pair
        # deterministic, so filtering first shrinks the distinct's shuffle
        # by the (typically vast) fraction of candidates that fail popcount
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs → (a_id, b_id,
    jaccard).

    ``max_df=None``: candidates = every pair sharing ≥1 shingle (posting-
    list self equi-join; per-pair intersection counts, |A∪B| = |A|+|B|−|A∩B|
    — no cross join anywhere).

    ``max_df=T``: standard web-dedup document-frequency cap — shingles
    appearing in more than T docs are dropped from CANDIDATE GENERATION
    (a stop-shingle like "the quick" otherwise creates a quadratic hot
    key), and the Jaccard is then computed EXACTLY on the candidates' full
    shingle sets.  Pairs whose every common shingle is hot are the
    (deliberate, documented) recall loss.

    The uncapped path emits a UserWarning: ONE stop-shingle shared by n
    docs creates n² candidate pairs, so at corpus scale it is the exact
    spec / differential oracle only — always set ``max_df`` in production.
    """
    from gstools_core_spark.operators.cache import track

    if max_df is None:
        import warnings

        warnings.warn(
            "ngram_jaccard_pairs(max_df=None): the uncapped posting-list "
            "self-join is quadratic in every hot shingle's document "
            "frequency — at corpus scale a single stop-shingle degenerates "
            "to an all-pairs join.  Set max_df (document-frequency cap) "
            "for any run beyond oracle/test scale.",
            UserWarning,
            stacklevel=2,
        )

    sh = track(
        df.select(
            F.col(id_col), F.explode(shingles_col(F.col(text_col), k)).alias("s")
        ).persist()  # read 3×: both join sides + per-doc sizes / df counts
    )
    if max_df is not None:
        keep = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("s")
        )
        post = sh.join(keep, "s")
        a = post.select(F.col(id_col).alias("a_id"), "s")
        b = post.select(F.col(id_col).alias("b_id"), "s")
        cands = (
            a.join(b, "s")
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        # full shingle sets REGROUPED from the persisted posting list — not
        # recomputed from text (the split+transform+distinct expression is
        # the expensive part; order doesn't matter to intersect/union sizes)
        arrs = sh.groupBy(id_col).agg(F.collect_list("s").alias("sh_arr"))
        joined = (
            cands.join(arrs.select(F.col(id_col).alias("a_id"), F.col("sh_arr").alias("a_sh")), "a_id")
            .join(arrs.select(F.col(id_col).alias("b_id"), F.col("sh_arr").alias("b_sh")), "b_id")
        )
        inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
        union = F.size(F.array_union("a_sh", "b_sh")).cast("double")
        return (
            joined.withColumn("jaccard", inter / union)
            .where(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "jaccard")
        )

    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("a_id"), "s")
    b = sh.select(F.col(id_col).alias("b_id"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "a_id").withColumnRenamed("n_sh", "a_n"), "a_id")
        .join(sizes.withColumnRenamed(id_col, "b_id").withColumnRenamed("n_sh", "b_n"), "b_id")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("a_n") + F.col("b_n") - F.col("n_inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
