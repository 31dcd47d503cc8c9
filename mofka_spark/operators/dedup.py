"""Deduplication operators for training-data pipelines, 100 TB-ready.

Strategies (each returns keeper/duplicate assignments):

- exact_dedup: content-hash groupBy. One shuffle on a 32-hex key;
  map-side partial aggregation applies; no skew (hashes are uniform).
- minhash_lsh_dedup: shingle -> minhash -> band -> bucket-join.
  The classic near-dup pipeline: per-row signature computation is a
  single project (no shuffle); candidate generation shuffles only
  (band_id, band_hash) pairs — tiny compared to the corpus; the
  pairwise verify join runs per-bucket, never all-pairs.
- simhash_dedup: 64-bit simhash from token hashes; near-dups = equal
  simhash prefix buckets + hamming check.
- ngram_jaccard_pairs: exact n-gram Jaccard verification over candidate
  pairs (used standalone on small buckets, or as minhash's verify step).
- embedding_neardup: cosine-similar pairs via a blocking key then exact
  verify (see similarity.py for the kernels).

Everything is built-in expressions (xxhash64, transform, aggregate,
explode) — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


# whitespace runs as an explicit class (RE2's \s): Java's \s also
# matches \x0b, which RE2 (the DuckDB oracle) does not. ONE shared
# definition — text._WS_CHARS — so the engines cannot drift one
# site at a time (text.py's dedup imports are function-local; no
# cycle).
from mofka_spark.operators.text import _WS_CHARS, _let

_WS_RUN = f"[{_WS_CHARS}]+"


def normalize_text(col: Column) -> Column:
    """Canonical text for dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), _WS_RUN, " ")


# the 32 ASCII punctuation characters, escaped for a regex class;
# identical byte-for-byte semantics in Java regex and DuckDB's RE2
_ASCII_PUNCT_RE = r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""


def normalize_text_aggressive(col: Column) -> Column:
    """CCNet-style aggressive canonicalization for paragraph/doc hash
    dedup (Wenzek et al. 2020 §4.1): lowercase, digits -> 0,
    punctuation stripped, whitespace collapsed. Catches duplicates
    that differ only in numbers ("updated 2023" vs "updated 2024"),
    punctuation style, or spacing — the web-crawl boilerplate regime
    where plain content hashing under-deduplicates.

    The punctuation class is the explicit ASCII set (not ``[^\\w\\s]``,
    whose ``\\w`` is ASCII-only in both Java and RE2 and would strip
    every non-Latin letter — emptying CJK documents entirely), so
    Unicode letters survive.

    Pure regexp built-ins — scan-local, codegen'd, no UDF."""
    lowered = F.lower(F.trim(col))
    digits0 = F.regexp_replace(lowered, r"\d", "0")
    nopunct = F.regexp_replace(digits0, _ASCII_PUNCT_RE, "")
    return F.trim(F.regexp_replace(nopunct, _WS_RUN, " "))


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Ensure enough input partitions before explode-heavy stages.

    A corpus that arrives as a handful of parquet files would otherwise
    run the (CPU-bound) shingle/hash stage on a handful of tasks; the
    small pre-shuffle of raw rows buys full parallelism. No-op when the
    scan is already wide (the 100 TB case — file splits provide
    parallelism there)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target, key)
    return df


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    aggressive: bool = False,
) -> DataFrame:
    """Exact duplicates by md5 of normalized text. Returns
    (content_hash, keeper_id, n_copies, ids). Keeper = min id.
    ``aggressive=True`` swaps the whitespace/case canon for the CCNet
    form (digits -> 0, punctuation stripped) — same plan, stronger
    collapse.

    Scale: groupBy on a uniform 128-bit key — one shuffle, perfect
    distribution, partial_agg does most work map-side. md5 (not
    xxhash64) so the result is oracle-checkable across engines."""
    canon = normalize_text_aggressive if aggressive else normalize_text
    h = F.md5(canon(F.col(text_col))).alias("content_hash")
    # Spread by the aggregation key itself: when the scan is narrow the
    # pre-shuffle both parallelizes the md5 stage AND satisfies the
    # groupBy's hash-partitioning requirement, so Catalyst inserts no
    # second Exchange — one shuffle in every regime.
    return (
        _spread(df.select(h, F.col(id_col)), "content_hash")
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
    )


def shingles(col: Column, k: int = 5) -> Column:
    """Character k-shingles of normalized text as an array<string>.

    transform over a sequence — one projection, no explode until the
    pipeline needs it. The normalized string binds once per row via
    ``_let`` (substr on an inlined expression would re-normalize per
    shingle — the O(len²) trap, see _let)."""

    def build(norm: Column) -> Column:
        n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n), lambda i: norm.substr(i, F.lit(k))
        )

    return _let(normalize_text(col), build)


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Word n-grams as array<string> (for n-gram Jaccard).

    The token array binds once per row via ``_let`` — inlining it into
    the per-gram lambda re-ran split(normalize(text)) per gram
    (O(len²) per doc; measured 8.5x on the gram projection, see _let).
    """

    def build(toks: Column) -> Column:
        cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), cnt - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )

    return _let(F.split(normalize_text(col), " "), build)


def _cap_buckets(banded: DataFrame, keys: list[str], bucket_cap: int | None) -> DataFrame:
    """Drop LSH buckets with more than ``bucket_cap`` members.

    Boilerplate-heavy corpora produce pathological buckets whose
    self-join goes quadratic (a 100k-member bucket alone is 5e9 pairs).
    Members of an over-cap bucket are near-identical boilerplate; they
    still pair up through their other (more selective) bands, so the cap
    trades a sliver of recall for bounded work. Implemented as a window
    count over the same key the self-join shuffles on, so the exchange
    is reused — one pass, no extra shuffle."""
    if bucket_cap is None:
        return banded
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_bn", F.count("*").over(w))
        .filter(F.col("_bn") <= bucket_cap)
        .drop("_bn")
    )


def _minhash_fold_kernel(num_hashes: int):
    """Arrow kernel folding per-doc (h1, h2) gram-hash arrays into the
    MinHash signature. Exact: h_i = h1 ^ rotl64(h2, i) (h_0 = h1 — the
    JVM special case, since Java shifts are mod-64 and rotl(h2, 0)
    would xor h2 in), folded with SIGNED min per hash family member,
    matching F.min over LongType."""
    import numpy as np
    import pandas as pd

    def kern(h1s, h2s):
        n = len(h1s)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(a) for a in h1s), dtype=np.int64, count=n)
        f1 = np.concatenate([np.asarray(a, dtype=np.int64) for a in h1s])
        f2 = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in h2s]
        ).view(np.uint64)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        u1 = f1.view(np.uint64)
        sig = np.empty((n, num_hashes), dtype=np.int64)
        sig[:, 0] = np.minimum.reduceat(f1, offsets)
        for s in range(1, num_hashes):
            rot = (f2 << np.uint64(s)) | (f2 >> np.uint64(64 - s))
            sig[:, s] = np.minimum.reduceat((u1 ^ rot).view(np.int64), offsets)
        return pd.Series(list(sig))

    kern.__annotations__ = {"h1s": pd.Series, "h2s": pd.Series, "return": pd.Series}
    return kern


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    features: str = "word",
) -> DataFrame:
    """MinHash signatures as (id, sig: array<long>[num_hashes]) via the
    zero-shuffle Arrow path: gram hashing (xxhash64 ×2 per gram) stays
    JVM-side; one vectorized kernel does the 64 rotate-xor-min folds.
    Values are bit-identical to the explode/agg SQL form."""
    if num_hashes > 64:
        raise ValueError(
            "num_hashes > 64 would repeat rotations in the double-hash "
            "family (h1 ^ rot(h2, i mod 64)); use <= 64"
        )
    feat = (
        word_ngrams(F.col(text_col), shingle_k)
        if features == "word"
        else shingles(F.col(text_col), shingle_k)
    )
    kern = F.pandas_udf(_minhash_fold_kernel(num_hashes), "array<long>")
    # Generate barrier: the Arrow kernel's arguments must be plain
    # attributes (see simhash_signatures — a _let-bearing expression
    # argument strands the PythonUDF in an interpreted projection).
    # Bonus: the gram array evaluates ONCE for both hash families.
    base = _spread(df.filter(F.col(text_col).isNotNull()), id_col).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                F.struct(
                    _let(
                        feat,
                        lambda g: F.struct(
                            F.transform(g, lambda x: F.xxhash64(x)).alias("h1"),
                            F.transform(
                                g, lambda x: F.xxhash64(x, F.lit(1))
                            ).alias("h2"),
                        ),
                    ).alias("h"),
                )
            )
        ).alias("_g"),
    )
    return base.select(
        "id", kern(F.col("_g.h.h1"), F.col("_g.h.h2")).alias("sig")
    )


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    features: str = "word",
) -> DataFrame:
    """(id, band_id, band_hash) LSH band rows — the joinable signature
    form shared by the batch self-join (minhash_lsh_candidates) and the
    incremental store join (streaming.neardup). Deterministic for a
    given parameter set, so rows computed in different micro-batches /
    jobs / sessions bucket-join correctly.

    The i-th hash family member derives from TWO string hashes by
    xor-rotate mixing (double-hashing construction) instead of
    re-hashing the string num_hashes times: h_i = h1 ^ rot(h2, i).
    Cuts per-shingle work from 64 string hashes to 2 + cheap long
    bit-ops, all inside codegen; pure bitwise so ANSI overflow checking
    never fires. The 64 min() aggregations collapse each map partition
    to one row per doc before the shuffle — shuffled volume is
    docs x 512 B regardless of text size."""
    rows_per_band = num_hashes // bands
    feat = (
        word_ngrams(F.col(text_col), shingle_k)
        if features == "word"
        else shingles(F.col(text_col), shingle_k)
    )
    exploded = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(feat).alias("sh"),
    )
    hashed = exploded.select(
        "id",
        F.xxhash64("sh").alias("h1"),
        F.xxhash64("sh", F.lit(1)).alias("h2"),
    )

    def mix(i: int):
        if i == 0:
            return F.col("h1")
        rot = F.shiftleft("h2", i % 64).bitwiseOR(
            F.shiftrightunsigned("h2", 64 - (i % 64))
        )
        return F.col("h1").bitwiseXOR(rot)

    sig = hashed.groupBy("id").agg(
        *[F.min(mix(s)).alias(f"h{s}") for s in range(num_hashes)]
    )
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col(f"h{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    features: str = "word",
    bucket_cap: int | None = 10000,
    arrow: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    rows/band = num_hashes/bands. Two docs are candidates if any band's
    hash slice matches exactly. Returns distinct (id_a, id_b) with
    id_a < id_b.

    ``features`` picks the shingle space: "word" (k-word n-grams,
    default) or "char" (k-char shingles). The candidate feature space
    should MATCH the verify metric's: the verify step computes word
    n-gram Jaccard, and unrelated texts in the same language share a
    large fraction of their character 5-shingles (common substrings
    like ' the '), so char-shingle LSH at r=4 floods the verify join
    with jaccard~0 candidates — measured 504k candidates for 256 true
    pairs on a 5k-doc corpus; word features cut that to ~the true
    pairs, at identical recall in word-Jaccard space.

    Plan shape (default, pure SQL): explode shingles -> 64 parallel
    min() aggregations grouped by doc (partial agg collapses each map
    partition to one row per doc before the shuffle — the shuffled
    volume is docs × 512 B regardless of text size) -> band hashes ->
    hot-bucket cap (window count over the join key, buckets >
    bucket_cap dropped) -> self-join per (band_id, band_hash) bucket.
    Never all-pairs; AQE skew-join covers moderate skew below the cap.

    ``arrow=True`` swaps the signature stage for the zero-shuffle
    Arrow kernel (minhash_signatures) + a persisted signature frame.
    Identical values, but measured SLOWER here (5.7s vs ~1s at sf0.1):
    the array<long> kernel output pays per-element Arrow list
    serialization, while the SQL min() aggs — unlike SimHash's 60
    sum(when(bit)) aggs — are cheap enough that the shuffle they add
    doesn't matter. Kept for signature-extraction pipelines that want
    the signatures themselves (one consumer, no self-join)."""
    if num_hashes > 64:
        raise ValueError(
            "num_hashes > 64 would repeat rotations in the double-hash "
            "family (h1 ^ rot(h2, i mod 64)); use <= 64"
        )
    if arrow:
        rows_per_band = num_hashes // bands
        sig = minhash_signatures(
            df, id_col, text_col, num_hashes, shingle_k, features
        ).localCheckpoint(eager=True)  # GC-bounded, not a session-cache leak
        banded = sig.select(
            "id",
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band_id", "band_hash"),
        )
    else:
        banded = minhash_band_rows(
            df, id_col, text_col, num_hashes, bands, shingle_k, features
        )
    banded = _cap_buckets(banded, ["band_id", "band_hash"], bucket_cap)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    release: list | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate (id_a, id_b) pairs.

    Joins the n-gram sets onto the (small) candidate set — the exact
    verify never touches non-candidate rows. Returns
    (id_a, id_b, jaccard) for pairs >= threshold.

    ``release``: when given, the internally persisted frames append to
    it so the caller can ``unpersist()`` them once the result is
    materialized. One-shot batch queries let session teardown collect
    them; a LONG-RUNNING caller invoking this per micro-batch (the
    streaming neardup sink) must release per epoch or the cache
    accumulates one pair+gram frame per epoch for the stream's
    lifetime (LRU eviction saves memory but not bookkeeping)."""
    # compute the (expensive) n-gram arrays ONLY for docs that appear
    # in a candidate pair: the member-id set is small by construction
    # (LSH candidates << corpus), so a broadcast semi-join prunes the
    # gram projection from O(corpus) to O(candidate members) before
    # any text is touched — at 100 TB the verify never scans the corpus
    # the candidate frame is consumed twice below (member-id broadcast
    # + the verify join) and is tiny by construction — persist it so
    # the upstream LSH plan runs once
    pairs = pairs.persist()
    if release is not None:
        release.append(pairs)
    member_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(F.broadcast(member_ids), id_col, "left_semi")
    # _spread: the n-gram arrays are the expensive projection here; a
    # corpus arriving as one or two parquet splits would compute them
    # all in as many tasks (measured 3-4s single-task on 5k docs)
    # persisted: the gram frame feeds BOTH sides of the verify join
    # (grams_a / grams_b), and it is small by construction (candidate
    # members only) — without a materialization point the semi-join +
    # n-gram projection would run twice.
    # Grams travel as xxhash64 longs, not strings: set sizes and
    # intersections over the hashed sets equal the string-set ones
    # unless two distinct grams of one pair union collide in 64 bits
    # (P < 1e-8; see OPTIMIZATION_r14.md) — the persisted frame and
    # the verify shuffle carry 8 bytes/gram instead of the gram text,
    # and array_intersect/union compare longs instead of strings.
    grams = _spread(cand_docs, id_col).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(word_ngrams(F.col(text_col), n), lambda g: F.xxhash64(g))
        ).alias("grams"),
    ).persist()
    if release is not None:
        release.append(grams)
    j = (
        pairs.join(grams.withColumnRenamed("grams", "grams_a"), pairs.id_a == grams.id)
        .drop("id")
        .join(
            grams.withColumnRenamed("grams", "grams_b").withColumnRenamed("id", "id2"),
            pairs.id_b == F.col("id2"),
        )
        .drop("id2")
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return (
        j.withColumn(
            "jaccard",
            F.round(inter / F.greatest(union, F.lit(1)), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    features: str = "word",
    verify_threshold: float | None = 0.8,
    ngram_n: int = 3,
    bucket_cap: int | None = 10000,
    transitive: bool = False,
    components_method: str = "propagation",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates (+ optional exact Jaccard
    verify) -> connected keeper assignment.

    Keeper assignment: duplicate edges (a<b) reduce to keeper = min
    neighbor via one aggregation (single-hop union-find; transitive
    chains at depth > 1 are rare at sensible thresholds).
    ``transitive=True`` runs full connected components instead
    (operators.graph.assign_keepers) so chains A~B~C collapse to one
    keeper even when A-C is not itself an edge. ``components_method``
    picks the component scheme for that path: "propagation" (default
    — min-label, rounds = cluster diameter, right for the shallow
    clusters near-dup thresholds produce) or "alternating"
    (large-star/small-star, O(log n) rounds — right when duplicate
    CHAINS run deep, e.g. boilerplate series or template families
    where A~B~C~...~Z links hundreds of docs pairwise)."""
    cand = minhash_lsh_candidates(
        df,
        id_col,
        text_col,
        num_hashes,
        bands,
        shingle_k,
        features=features,
        bucket_cap=bucket_cap,
    )
    if verify_threshold is not None:
        cand = ngram_jaccard_pairs(
            df, cand, id_col, text_col, ngram_n, verify_threshold
        ).select("id_a", "id_b")
    if transitive:
        from mofka_spark.operators.graph import assign_keepers

        return assign_keepers(df, cand, id_col, method=components_method)
    keepers = cand.groupBy("id_b").agg(F.min("id_a").alias("keeper_id"))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(keepers, F.col("id") == F.col("id_b"), "left")
        .select(
            "id",
            F.coalesce("keeper_id", "id").alias("keeper_id"),
            (F.col("keeper_id").isNotNull()).alias("is_duplicate"),
        )
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _gram_hash(col: Column, portable: bool) -> tuple[Column, int]:
    """Per-gram hash column and its bit width.

    portable=True: 60-bit hash from the first 15 hex chars of md5 —
    byte-identical in any engine with md5 (the DuckDB oracle computes
    the same value), at ~2x the cost of xxhash64.
    portable=False: full 64-bit xxhash64 (the bulk fast path)."""
    if portable:
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"), 60
    return F.xxhash64(col), 64


def _simhash_fold_kernel(bits: int):
    """Arrow kernel folding per-doc gram-hash arrays into the SimHash
    signature. Exact integer math, the SimHash vote rule: bit i of the
    signature is set iff 2*(count of grams with bit
    i set) > gram count, i.e. the +1/-1 vote sum is positive."""
    import numpy as np
    import pandas as pd

    def kern(harrs):
        n = len(harrs)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        lens = np.fromiter((len(a) for a in harrs), dtype=np.int64, count=n)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in harrs]
        ).view(np.uint64)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        sims = np.zeros(n, dtype=np.uint64)
        for i in range(bits):
            ones = np.add.reduceat(
                ((flat >> np.uint64(i)) & np.uint64(1)).astype(np.int64), offsets
            )
            sims |= (2 * ones > lens).astype(np.uint64) << np.uint64(i)
        return pd.Series(sims.view(np.int64))

    # real class objects (module-level `from __future__ import
    # annotations` would stringify inline hints, breaking pandas_udf
    # type inference)
    kern.__annotations__ = {"harrs": pd.Series, "return": pd.Series}
    return kern


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
    portable: bool = False,
    arrow: bool = True,
) -> DataFrame:
    """SimHash signatures, (id, sim).

    Two physical strategies with identical output:

    - ``arrow=True`` (default): gram hashing stays JVM-side (transform
      over the n-gram array — exact xxhash64/md5), then one vectorized
      Arrow batch kernel folds each hash array into the 64-bit
      signature. ZERO shuffle — signature computation is a pure map
      stage, so at 100 TB the corpus never moves; and the 60-64
      conditional aggregates that dominate the SQL form (measured ~70%
      of the query) become numpy segment-sums.
    - ``arrow=False``: pure-SQL explode -> per-bit vote sums in one
      hash-aggregate (map-side partial agg; shuffle carries one counter
      row per doc). This is the form the DuckDB oracle mirrors; kept as
      the no-Python reference path.
    """
    one = F.lit(1).cast("long")
    bits = 60 if portable else 64
    if arrow:
        grams = word_ngrams(F.col(text_col), ngram)
        harr = F.transform(grams, lambda g: _gram_hash(g, portable)[0])
        # null-text parity with the explode form (explode drops null
        # gram arrays). Filter on the RAW column — a predicate on
        # size(<transform>) would re-evaluate the whole hash transform
        # per row in interpreted mode (measured 8s vs 0.4s at sf0.1);
        # isNotNull pushes down to the scan. Non-null text always
        # yields >= 1 gram (word_ngrams' greatest(...,1)), so the
        # kernel never sees an empty segment.
        kern = F.pandas_udf(_simhash_fold_kernel(bits), "long")
        # Generate barrier between the hash-array projection and the
        # Arrow kernel: the UDF argument must be a plain attribute —
        # handing it the _let-bearing gram expression directly leaves
        # the PythonUDF inside an interpreted projection that cannot
        # evaluate it (observed: INTERNAL_ERROR "Cannot evaluate
        # expression: kern(...)" under localCheckpoint).
        base = _spread(df.filter(F.col(text_col).isNotNull()), id_col).select(
            F.col(id_col).alias("id"),
            F.explode(F.array(harr)).alias("_h"),
        )
        return base.select("id", kern(F.col("_h")).alias("sim"))
    hcol, bits = _gram_hash(F.col("g"), portable)
    hashed = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.col(text_col), ngram)).alias("g"),
    ).select("id", hcol.alias("h"))
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(F.shiftleft(one, i)) != 0, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.shiftleft(one, i)).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return votes.select("id", sim.alias("sim"))


def _band_slices(bits: int, bands: int) -> list[tuple[int, int]]:
    """Split [0, bits) into `bands` contiguous (shift, width) spans."""
    base, rem = divmod(bits, bands)
    out, pos = [], 0
    for i in range(bands):
        width = base + (1 if i < rem else 0)
        out.append((pos, width))
        pos += width
    return out


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    ngram: int = 2,
    portable: bool = False,
    bands: int | None = None,
    bucket_cap: int | None = None,
    arrow: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole-exact banding.

    Recall guarantee: a pair at hamming distance <= max_hamming differs
    in at most max_hamming bits, so with ``bands = max_hamming + 1``
    contiguous bands at least one band is bit-identical — the banded
    equi-join finds EVERY qualifying pair (100% recall), never
    all-pairs. The band count is derived from max_hamming (it was a
    fixed 4 before, silently under-recalling for max_hamming > 3).

    ``bucket_cap`` defaults to None (exact) here, unlike MinHash: a
    qualifying pair may share exactly ONE identical band (the other
    bands are the ones that differ), so dropping that band's bucket
    loses the pair outright — there is no "they pair through other
    bands" argument. Opt in to a cap only when bounding boilerplate
    blowups is worth the documented recall loss.

    Plan: hamming is computed once per bucket collision, filtered
    BEFORE the distinct so the dedup exchange carries only qualifying
    pairs.

    Returns (id_a, id_b, hamming)."""
    if bands is None:
        bands = max_hamming + 1
    sigs = simhash_signatures(df, id_col, text_col, ngram, portable, arrow)
    if arrow:
        # the banded self-join consumes the signatures twice; the SQL
        # form's aggregation exchange gets stage-reused by AQE, but an
        # ArrowEvalPython subtree does not canonicalize across the
        # self-join rewrite, so without a cache the scan+hash+kernel
        # chain runs once PER SIDE. The signature frame is 16 B/doc
        # (vs the SQL form shuffling ~480 B/doc of vote counters), so
        # persisting it is the cheapest materialization point by far;
        # evicted LRU under pressure, rebuilt from lineage if lost.
        # Materialized EAGERLY (one deliberate job here): letting the
        # join populate the cache makes both sides race per-partition
        # block locks through the Python stage — measured ~2x worse
        # tail latency than one deterministic kernel pass.
        # localCheckpoint (not persist): blocks are reclaimed when the
        # frame is GC'd instead of leaking into the session cache.
        sigs = sigs.localCheckpoint(eager=True)
    bits = 60 if portable else 64
    if bands > bits:
        raise ValueError(f"bands={bands} exceeds signature width {bits}")
    mask_exprs = [
        F.shiftrightunsigned(F.col("sim"), shift).bitwiseAND(
            F.lit((1 << width) - 1).cast("long")
        )
        for shift, width in _band_slices(bits, bands)
    ]
    banded = sigs.select(
        "id",
        "sim",
        F.posexplode(F.array(*mask_exprs)).alias("band_id", "band_val"),
    )
    banded = _cap_buckets(banded, ["band_id", "band_val"], bucket_cap)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _doc_grams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Materialized per-doc distinct word-n-gram arrays as xxhash64
    longs (id, grams) — the single tokenize pass shared by
    containment_candidates (which explodes it into the inverted index)
    and the containment_pairs verify (which intersects the arrays).

    Hashing happens HERE, once, so gram text never leaves the scan:
    the checkpoint, the index explode, and the verify arrays all carry
    8-byte longs instead of gram strings (measured ~2.5x fewer
    checkpoint+shuffle bytes and a cheaper long-vs-string
    array_intersect on the 400k-pair verify at sf0.1). Set sizes and
    intersections over the hashed sets equal the string-set ones
    unless two distinct grams of one doc pair collide in 64 bits
    (P < 1e-8 for 10^5-gram pair unions — see OPTIMIZATION_r14.md;
    verified value-identical to the string form at sf0.001/0.01/0.1).
    localCheckpoint: reclaimed on GC, not a session-cache leak."""
    return (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                F.transform(
                    word_ngrams(F.col(text_col), n),
                    lambda g: F.xxhash64(g),
                )
            ).alias("grams"),
        )
        .localCheckpoint(eager=True)
    )


def containment_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
    doc_grams: DataFrame | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs sharing at least one word-n-gram,
    from an inverted gram index — the recall basis for containment
    detection. Any pair with containment > 0 shares a gram, so with
    ``max_df=None`` the candidate set is provably complete for every
    positive threshold (unlike MinHash-LSH, whose Jaccard banding
    misses the asymmetric small-doc-inside-big-doc case containment
    exists to catch).

    ``max_df`` is the scale lever: grams occurring in more than max_df
    docs are dropped BEFORE the self-join, bounding each gram's pair
    fan-out at C(max_df, 2) and killing the stopword-gram quadratic
    blowup. Completeness then narrows to pairs sharing >= 1 sub-cap
    gram — for real corpora a contained document nearly always carries
    one (documented miss bound, exact verify unaffected).

    Scale shape: one explode + distinct per doc (scan-local), one
    gram-keyed self-join whose fan-out is df-bounded, one distinct on
    (id_a, id_b). Gram text never shuffles — grams travel as 64-bit
    xxhash keys.

    ``doc_grams``: optional pre-materialized (id, grams) frame from
    ``_doc_grams`` — containment_pairs passes its own so the corpus is
    tokenized exactly once across candidates + verify.
    """
    if doc_grams is not None:
        # derive the index from the shared materialized arrays (already
        # xxhash64 longs): the explode re-runs per consumer but reads
        # the checkpoint, not the raw corpus (no second tokenize pass)
        grams = doc_grams.select("id", F.explode("grams").alias("g"))
    else:
        # the exploded gram frame feeds the df aggregate AND both
        # sides of the self-join — persist it or the tokenize+explode
        # runs 3x (localCheckpoint: reclaimed on GC, not a
        # session-cache leak)
        grams = (
            _spread(df, id_col)
            .select(
                F.col(id_col).alias("id"),
                F.explode(
                    F.array_distinct(word_ngrams(F.col(text_col), n))
                ).alias("gram"),
            )
            .select("id", F.xxhash64("gram").alias("g"))
            .localCheckpoint(eager=True)
        )
    if max_df is not None:
        dfreq = grams.groupBy("g").agg(F.count("*").alias("_df"))
        grams = grams.join(
            dfreq.filter(F.col("_df") <= max_df).select("g"), "g", "left_semi"
        )
    a, b = grams.alias("a"), grams.alias("b")
    return (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Near-containment detection: pairs where the smaller document's
    n-gram set is mostly inside the larger's — quotes, excerpts,
    boilerplate wrappers, doc-inside-doc syndication. Metric =
    |grams_a ∩ grams_b| / min(|grams_a|, |grams_b|), the symmetric
    max-containment; Jaccard dedup misses these pairs exactly when
    they matter (a 50x size ratio caps Jaccard at 0.02 however
    complete the inclusion).

    Candidates from the inverted gram index (complete for any positive
    threshold when max_df is None — see containment_candidates); the
    exact verify joins full gram arrays onto candidates only, same
    shape as ngram_jaccard_pairs. Returns (id_a, id_b, containment)
    for pairs >= threshold, containment rounded to 6dp.

    The corpus is tokenized ONCE: one shared localCheckpoint of the
    per-doc hashed gram arrays feeds both the candidate index
    (explode) and the exact verify (array intersect on candidate
    members only) — previously the verify re-ran tokenize+explode
    over member docs. The candidate frame is NOT persisted: both of
    its consumers (the member-id broadcast and the verify join) sit
    in one action's plan, and because the candidate subtree reads the
    already-checkpointed gram frame and ends in a reusable exchange,
    runtime exchange reuse deduplicates the self-join — an explicit
    persist only serialized the concurrent subtrees and added a
    memory-format write (interleaved A/B: persist LOSES ~8% at sf0.1
    and ~35% at sf1; see OPTIMIZATION_r15.md).
    """
    shared = _doc_grams(df, id_col, text_col, n)
    cand = containment_candidates(
        df, id_col, text_col, n, max_df, doc_grams=shared
    )
    member_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    grams = shared.join(F.broadcast(member_ids), "id", "left_semi")
    j = (
        cand.join(grams.withColumnRenamed("grams", "grams_a"), cand.id_a == grams.id)
        .drop("id")
        .join(
            grams.withColumnRenamed("grams", "grams_b").withColumnRenamed("id", "id2"),
            cand.id_b == F.col("id2"),
        )
        .drop("id2")
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    denom = F.greatest(
        F.least(F.size("grams_a"), F.size("grams_b")), F.lit(1)
    )
    return (
        j.withColumn("containment", F.round(inter / denom, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def soft_dedup_weights(components: DataFrame) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, weight
    every cluster member by 1/cluster_size so each duplicated piece of
    content contributes one unit of training mass in total (the
    down-weighting alternative to hard dedup — repeated content still
    appears, but no longer dominates the loss in proportion to its
    copy count). Feed the weights to weighted_sample / dsir_select or
    a loss-weighting column in the export.

    ``components`` is (id, keeper_id) from minhash_lsh_dedup(
    transitive=True) / dedup_components — singletons carry themselves
    and get weight 1.0. Returns (id, keeper_id, cluster_size, weight),
    weight rounded to 6dp.

    Scale shape: one keeper-keyed partial-agg count joined back onto
    the components frame on the SAME keeper_id key — a co-partitioned
    shuffle join (AQE reuses the aggregate's hash partitioning and
    will still broadcast when the frame is genuinely small). The
    sizes table is O(#unique docs), NOT O(#non-singleton clusters):
    singletons carry themselves, so in a mostly-unique corpus it is
    corpus-sized and must never be broadcast-hinted. No sort, no
    window."""
    sizes = components.groupBy("keeper_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        components.join(sizes, "keeper_id")
        .select(
            "id",
            "keeper_id",
            "cluster_size",
            F.round(1.0 / F.col("cluster_size"), 6).alias("weight"),
        )
    )


def cluster_representatives(
    components: DataFrame,
    scores: DataFrame,
    score_col: str = "score",
    id_col: str = "id",
    keeper_col: str = "keeper_id",
) -> DataFrame:
    """Quality-aware keeper selection: instead of keeping each near-dup
    cluster's min-id member (minhash_lsh_dedup's default — arbitrary
    with respect to quality), pick the member with the BEST score (ties
    break id-asc, so selection is deterministic). The "keep the
    highest-quality copy" policy a curator actually wants when the
    cluster mixes a clean original with boilerplate-wrapped mirrors.

    ``components`` is (id, keeper_id) from minhash_lsh_dedup(
    transitive=True) / dedup_components; ``scores`` maps id -> score
    (any quality signal: gopher_quality, lm_score, token count).
    Members with a NULL score can't compete and are excluded — cluster
    sizes count scored members only.

    Returns (keeper_id, rep_id, rep_score, cluster_size).

    Scale shape: one id-keyed join (components and scores are both
    id-partitioned; AQE broadcasts a genuinely small score table) then
    ONE keeper-keyed shuffle shared by the rank and size windows (same
    partition key — Catalyst plans a single Exchange and sort). Per-key
    window state is one row; nothing collects."""
    m = components.select(id_col, keeper_col).join(
        scores.select(id_col, score_col).filter(
            F.col(score_col).isNotNull()
        ),
        id_col,
    )
    part = Window.partitionBy(keeper_col)
    ranked = part.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (
        m.select(
            keeper_col,
            F.col(id_col).alias("rep_id"),
            F.col(score_col).alias("rep_score"),
            F.row_number().over(ranked).alias("_rk"),
            F.count("*").over(part).cast("long").alias("cluster_size"),
        )
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def cross_corpus_dedup(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    features: str = "word",
    verify_threshold: float = 0.8,
    ngram_n: int = 3,
    bucket_cap: int | None = 10000,
    release: list | None = None,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest near-dedup: flag each NEW document that
    near-duplicates anything in an EXISTING corpus, without
    re-clustering the existing corpus (the daily-crawl-vs-index
    regime; decontaminate/fuzzy_decontaminate are the same shape but
    assume a broadcastable eval set — here BOTH sides are corpora).

    Both sides map through minhash_band_rows with identical parameters
    — the band rows are deterministic across jobs, so in production the
    index side is a materialized signature table that new batches
    equi-join against, never recomputed: pass it as ``index_bands``
    ((id, band_id, band_hash), e.g. a parquet table bucketed on
    (band_id, band_hash) via operators.layout.bucketize, in which case
    the store side of the candidate join reads with NO Exchange) and
    only the NEW batch's signatures are computed. ``index_df`` is
    still required — the verify step reads matched index docs' text,
    pruned to candidate members first. Candidates come from the
    (band_id, band_hash) equi-join (new-side bands never self-join);
    the exact word-``ngram_n``-gram Jaccard verify touches only
    candidate members of each side.

    Returns ONE row per new document: (id, is_dup, dup_of, jaccard) —
    dup_of = the smallest matching index id (deterministic), jaccard =
    that match's rounded score, both NULL for novel docs. Ids may
    collide across the corpora (they are different id spaces; no
    self-pair suppression applies).

    Scale shape: signatures collapse map-side to docs x 512 B; the
    bucket join is capped per side (_cap_buckets) so boilerplate
    buckets can't go quadratic across corpora; the verify prunes both
    gram projections to candidate members via broadcast semi-joins.
    Nothing all-pairs, nothing corpus-sized on the driver."""
    kw = dict(
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        features=features,
    )
    keys = ["band_id", "band_hash"]
    nb = _cap_buckets(
        minhash_band_rows(new_df, id_col, text_col, **kw), keys, bucket_cap
    ).withColumnRenamed("id", "id_new")
    ib = _cap_buckets(
        index_bands
        if index_bands is not None
        else minhash_band_rows(index_df, id_col, text_col, **kw),
        keys,
        bucket_cap,
    ).withColumnRenamed("id", "id_idx")
    # consumed three times (two member sets + the verify join) and tiny
    # by construction — persist so the LSH plans run once; ``release``
    # follows ngram_jaccard_pairs' contract for long-running callers.
    cand = nb.join(ib, keys).select("id_new", "id_idx").distinct().persist()
    if release is not None:
        release.append(cand)
    new_members = cand.select(F.col("id_new").alias(id_col)).distinct()
    idx_members = cand.select(F.col("id_idx").alias(id_col)).distinct()

    def _grams(side: DataFrame, members: DataFrame, out_id: str):
        pruned = side.join(F.broadcast(members), id_col, "left_semi")
        # hashed-long gram arrays: same bytes/collision rationale as
        # ngram_jaccard_pairs (P < 1e-8; OPTIMIZATION_r14.md)
        return _spread(pruned, id_col).select(
            F.col(id_col).alias(out_id),
            F.array_distinct(
                F.transform(
                    word_ngrams(F.col(text_col), ngram_n),
                    lambda g: F.xxhash64(g),
                )
            ).alias(f"grams_{out_id}"),
        )

    j = cand.join(_grams(new_df, new_members, "id_new"), "id_new").join(
        _grams(index_df, idx_members, "id_idx"), "id_idx"
    )
    inter = F.size(F.array_intersect("grams_id_new", "grams_id_idx"))
    union = F.size(F.array_union("grams_id_new", "grams_id_idx"))
    matches = (
        j.withColumn(
            "jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6)
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_new", "id_idx", "jaccard")
    )
    # deterministic per-new-doc verdict: smallest matching index id
    best = matches.groupBy("id_new").agg(
        F.min_by(
            F.struct(
                F.col("id_idx").alias("dup_of"),
                F.col("jaccard").alias("jaccard"),
            ),
            "id_idx",
        ).alias("_b")
    )
    return (
        new_df.select(F.col(id_col).alias("id"))
        .join(best.withColumnRenamed("id_new", "id"), "id", "left")
        .select(
            "id",
            F.col("_b").isNotNull().alias("is_dup"),
            F.col("_b.dup_of").alias("dup_of"),
            F.col("_b.jaccard").alias("jaccard"),
        )
    )
