"""Deterministic, engine-portable sampling for training-data curation.

Random Bernoulli sampling (df.sample) is neither reproducible across
engines nor stable under recomputation of a nondeterministic plan. The
curation-pipeline standard is HASH sampling: a row is kept iff
hash(key) mod M < fraction*M — the same rows are selected on every
engine, every run, every retry, and adding data never flips the
decision for existing rows. The hash is md5-derived so an external
oracle (DuckDB, Trino, ...) computes the identical selection.

Scale: a pure projection + filter, no shuffle, pushes down to the scan
like any other predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_MOD = 1_000_000


def hash_bucket(key: Column, salt: str = "", mod: int = _MOD) -> Column:
    """Deterministic bucket in [0, mod) from md5(salt || key) — the
    ONE engine-portable hash kernel (dsir_feature_buckets reuses it
    with mod=n_buckets; keep any copy bit-identical to the DuckDB
    form below or its oracle breaks).

    DuckDB equivalent:
    ``('0x' || substr(md5(salt || key::VARCHAR), 1, 12))::BIGINT % mod``
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 12), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(mod))


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, selected deterministically by key."""
    return df.filter(hash_bucket(F.col(key_col), salt) < int(fraction * _MOD))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language quotas for
    a training mix). Strata missing from ``fractions`` use
    ``default_fraction``. Still a single scan + filter — the stratum
    threshold is a when/otherwise chain, no shuffle."""
    bucket = hash_bucket(F.col(key_col), salt)
    thresh = None
    for stratum, frac in fractions.items():
        c = F.lit(int(frac * _MOD))
        thresh = (
            F.when(F.col(strata_col) == stratum, c)
            if thresh is None
            else thresh.when(F.col(strata_col) == stratum, c)
        )
    thresh = (
        thresh.otherwise(F.lit(int(default_fraction * _MOD)))
        if thresh is not None
        else F.lit(int(default_fraction * _MOD))
    )
    return df.filter(bucket < thresh)


def group_cap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    cap: int,
    salt: str = "",
    prefilter: bool = False,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically by
    hash rank (the per-domain quota of web-corpus curation: no single
    domain may contribute more than N documents).

    Selection is deterministic: rank rows within each group by
    (hash_bucket(key), key) and keep rank <= cap — the same rows
    survive on every engine and every run. (Unlike hash_sample's
    fraction cut, a rank-based quota is not append-stable: a new row
    with a smaller hash legitimately displaces the current cap-th row.)

    Scale: the exact form is one shuffle on the group key + a
    per-group sort (rank). For web-scale skew (a hot domain with 1e8
    docs sorted just to keep 1e4) enable ``prefilter``: a first
    partial-agg pass counts each group, and rows are pre-filtered to
    ``bucket < MOD * min(1, 4*cap/n_g)`` before the window — the
    expensive sort then touches ~4*cap rows per group instead of n_g.
    The 4x margin makes under-selection (a group landing < cap
    survivors by hash fluke) vanishingly rare but not impossible, so
    the prefiltered form VERIFIES: it recounts kept rows per group and
    raises if any group fell short of min(cap, n_g) — fail loudly,
    never silently under-sample.
    """
    bucket = hash_bucket(F.col(key_col), salt)
    base = df
    if prefilter:
        counts = df.groupBy(group_col).agg(F.count("*").alias("_n_g"))
        base = df.join(F.broadcast(counts), group_col).filter(
            bucket
            < F.least(
                F.lit(_MOD),
                (F.lit(4 * cap * _MOD) / F.col("_n_g")).cast("long"),
            )
        )
    w = Window.partitionBy(group_col).orderBy(bucket.asc(), F.col(key_col).asc())
    kept = (
        base.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
    if prefilter:
        # localCheckpoint: reclaimed on GC, not a session-cache leak
        kept = kept.localCheckpoint(eager=True)
        short = (
            kept.groupBy(group_col, "_n_g")
            .agg(F.count("*").alias("_kept"))
            .filter(F.col("_kept") < F.least(F.lit(cap), F.col("_n_g")))
            .limit(1)
            .count()
        )
        if short:
            raise RuntimeError(
                "group_cap prefilter under-selected a group; rerun with "
                "prefilter=False (or a different salt)"
            )
        return kept.drop("_n_g")
    return kept


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    strata_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling without replacement, k rows per
    stratum — the exponential-race formulation of Efraimidis-Spirakis
    A-ES: each row draws u in (0, 1] from the md5 hash of its key and
    races with arrival time -ln(u)/weight; the k earliest arrivals per
    stratum win. Inclusion probability is proportional to weight, the
    draw is reproducible from (key, salt) alone, and merging two
    independently-sampled shards = taking the k smallest of their
    union, which is what makes the scheme mergeable at scale.

    Scale shape: the race key is a scan-local projection (no RNG
    state); the per-stratum top-k shuffles only the thin
    (stratum, race_key, key) rows, never payloads; callers rejoin
    winners to the fact by key. Ties broken by key for a total order.

    Weights are honored as-is for any positive value — fractional
    weights matter (soft_dedup_weights emits 1/cluster_size in (0, 1]
    so a duplicate cluster contributes ~one unit of inclusion mass);
    nonpositive weights clamp to 1e-12, i.e. effectively never win.

    Returns (strata_col, key_col, race_key) with race_key rounded to
    9dp for display — ranking uses the unrounded value.
    """
    u = (hash_bucket(F.col(key_col), salt) + 1) / F.lit(float(_MOD))
    race = -F.log(u) / F.greatest(
        F.col(weight_col).cast("double"), F.lit(1e-12)
    )
    w = Window.partitionBy(strata_col).orderBy(
        F.col("_race").asc(), F.col(key_col).asc()
    )
    return (
        df.select(strata_col, key_col, race.alias("_race"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            strata_col, key_col, F.round(F.col("_race"), 9).alias("race_key")
        )
    )


def split_assign(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float] | None = None,
    salt: str = "split",
    col_name: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the key's hash bucket
    falls into consecutive [0, 1e6) ranges sized by ``fractions``
    (default train 0.8 / val 0.1 / test 0.1, insertion order =
    range order). Hash-based, so the assignment is reproducible,
    engine-portable, and append-stable — new rows never reshuffle
    existing rows' splits, the property random splits lack.

    When the fractions sum to ~1.0 the LAST stratum absorbs the
    remainder of the hash range (a plain ``otherwise``), so float
    truncation in the cumulative thresholds can never leave trailing
    buckets NULL (three 1/3 shares would otherwise drop bucket
    999999 — ~1e-6 of every split — silently). Partial fractions
    (sum < 1) keep the NULL remainder: those rows belong to no split
    by request.

    Scale: a scan-local when/otherwise projection, no shuffle."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = hash_bucket(F.col(key_col), salt)
    absorbing = abs(sum(fractions.values()) - 1.0) < 1e-9
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        # threshold from the CUMULATIVE fraction (rounded, not
        # truncated) so per-stratum float error never accumulates
        hi = int(round(cum * _MOD))
        expr = (
            F.when(bucket < hi, F.lit(name))
            if expr is None
            else expr.when(bucket < hi, F.lit(name))
        )
    last = F.lit(names[-1]) if absorbing else F.when(
        bucket < int(round((cum + fractions[names[-1]]) * _MOD)),
        F.lit(names[-1]),
    ).otherwise(F.lit(None))
    if expr is None:
        return df.withColumn(col_name, last)
    return df.withColumn(col_name, expr.otherwise(last))


def temperature_mix(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    target_rows: int,
    alpha: float = 0.5,
    salt: str = "",
) -> tuple[DataFrame, dict[str, float]]:
    """Temperature-based mixture sampling: sample ~``target_rows`` rows
    total with per-stratum budgets proportional to n_d^alpha — the
    standard multilingual/multi-domain LLM rebalancing (alpha=1 keeps
    natural proportions, alpha=0 gives uniform-per-stratum, alpha=0.5
    is the mBERT/XLM-R exponent that upsamples tail domains without
    drowning the head). Selection within a stratum is deterministic
    hash sampling, so the draw is reproducible and engine-portable.

    Rates are computed from one O(#strata) count aggregate collected to
    the driver — legitimate metadata, not data — with the weight sum
    folded in sorted-stratum order so an external oracle reproduces the
    identical IEEE double (alpha=0.5 uses sqrt, which is correctly
    rounded everywhere; ordered summation removes the one remaining
    source of float divergence). rate_d = min(1, target * w_d / W / n_d)
    and the kept set is ``bucket(key) < floor(rate_d * 1e6)``.

    Returns (sampled rows, {stratum: rate}).

    Scale shape: the count pass is a partial agg collapsing to #strata
    rows; the sample pass is a scan-local predicate (threshold chain
    broadcast in the plan), no shuffle, pushes down like any filter.
    """
    import math

    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    if alpha == 0.5:
        weights = {s: math.sqrt(n) for s, n in counts.items()}
    else:
        weights = {s: float(n) ** alpha for s, n in counts.items()}
    total_w = 0.0
    for s in sorted(weights):  # ordered fold: oracle-reproducible sum
        total_w += weights[s]
    rates = {
        s: min(1.0, target_rows * weights[s] / total_w / counts[s])
        for s in counts
    }
    sampled = stratified_hash_sample(
        df, key_col, strata_col, rates, default_fraction=0.0, salt=salt
    )
    return sampled, rates


def rank_bins(
    df: DataFrame,
    score_col: str,
    strata_col: str,
    key_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Curriculum binning: assign every row to one of ``n_bins``
    equal-population bins per stratum, by exact rank of its score —
    bin = ((rank-1) * n_bins) div count, pure integer arithmetic, so
    two engines agree bit-for-bit and bin populations differ by at
    most 1. The curriculum-learning primitive: train on bin 0 (short/
    easy) before bin 9 (long/hard), or drop the extreme bins.

    Scale shape: one shuffle keyed on the stratum carrying only
    (stratum, score, key); exact ranks need the per-stratum sort —
    at very large per-stratum cardinalities swap the rank for bucketed
    approx cutoffs (value_quantiles' approx_percentile path) and keep
    this exact form for the gate/oracle. Returns the input keys with a
    ``bin`` column."""
    w = Window.partitionBy(strata_col).orderBy(
        F.col(score_col).asc(), F.col(key_col).asc()
    )
    cnt = Window.partitionBy(strata_col)
    return df.select(
        strata_col,
        key_col,
        score_col,
        F.expr(
            f"(({n_bins} * (row_number() over (partition by {strata_col} "
            f"order by {score_col} asc, {key_col} asc)) - {n_bins}) div "
            f"(count(*) over (partition by {strata_col})))"
        )
        .cast("long")
        .alias("bin"),
    )


def dsir_feature_buckets(
    frame: DataFrame,
    text_col: str = "text",
    n_buckets: int = 8192,
    salt: str = "dsir",
    id_col: str | None = None,
) -> DataFrame:
    """The DSIR hashed-feature stream: one row per (unigram + bigram)
    occurrence, as md5 hash buckets in [0, n_buckets). With ``id_col``
    returns (id, bucket), else (bucket) — shared by the batch
    dsir_weights and the incremental streaming/dsirstore sink so both
    populate the identical bucket space. Scan-local (features fold out
    of each doc's own token array; no positional join)."""
    from mofka_spark.operators.text import _tokens

    arr = _tokens(F.col(text_col))
    n = F.size(arr)
    big = F.transform(
        F.arrays_zip(
            F.slice(arr, 1, F.greatest(n - 1, F.lit(0))).alias("v"),
            F.slice(arr, 2, F.greatest(n - 1, F.lit(0))).alias("w"),
        ),
        lambda p: F.concat_ws(" ", p["v"], p["w"]),
    )
    cols = [F.col(id_col).alias("id")] if id_col else []
    exploded = (
        frame.filter(F.col(text_col).isNotNull())
        .filter(n >= 1)
        .select(*cols, F.explode(F.concat(arr, big)).alias("feat"))
    )
    bucket = hash_bucket(F.col("feat"), salt, mod=n_buckets)
    return exploded.select(
        *(["id"] if id_col else []), bucket.alias("bucket")
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    salt: str = "dsir",
    raw_counts: DataFrame | None = None,
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every raw document by how much
    more likely its hashed n-gram features are under a bag-of-ngrams
    model of the TARGET corpus than under the raw corpus's own model,

        logw(x) = sum_f c_f(x) * ( ln p_target[b(f)] - ln p_raw[b(f)] )

    with features f = whitespace unigrams + adjacent bigrams, b(f) an
    md5 hash bucket in [0, n_buckets), and both bucket distributions
    add-one smoothed: p[b] = (count[b] + 1) / (total + n_buckets).
    High logw = looks like the target domain; feed the output to
    dsir_select / weighted sampling to build the training mixture.

    Returns (id, n_feats, logw) per raw doc with >= 1 token, logw
    rounded to 6dp. The per-doc sum folds in ascending-bucket order
    (sort_array + aggregate, the tfidf_scores trick) so an external
    engine reproduces the identical IEEE double.

    Scale shape: features come out of each doc's own token array
    (bigrams via arrays_zip of shifted slices — scan-local, no
    positional join); the per-doc (bucket, count) frame is the ONLY
    corpus-sized shuffle and both global bucket tables derive from it
    (raw) or from the target's own thin stream (target) as
    O(n_buckets)-row partial aggs that BROADCAST back onto the doc
    stream — the raw corpus never shuffles again. Target corpora are
    small by construction (that is DSIR's premise), raw-side cost is
    two scans of (id, text).

    ``raw_counts``: optional externally-maintained (bucket, cr) table
    — pass streaming/dsirstore.read_bucket_counts to score docs
    against a raw distribution accumulated incrementally instead of
    rescanning the corpus."""
    doc = dsir_feature_buckets(
        df, text_col, n_buckets, salt, id_col=id_col
    ).groupBy("id", "bucket").agg(F.count("*").alias("c"))
    raw = (
        raw_counts.select("bucket", F.col("cr").cast("long").alias("cr"))
        if raw_counts is not None
        else doc.groupBy("bucket").agg(F.sum("c").alias("cr"))
    )
    tgt = dsir_feature_buckets(target, text_col, n_buckets, salt).groupBy(
        "bucket"
    ).agg(F.count("*").alias("ct"))
    tot_r = raw.agg(F.sum("cr").alias("tr"))
    tot_t = tgt.agg(F.sum("ct").alias("tt"))
    # FULL OUTER over the bucket key sets: with an external raw_counts
    # table a scored doc may carry a bucket the store has only in the
    # target (or, mid-ingest, in neither) — smoothing keeps every
    # bucket's term defined, so none may silently drop from the join
    terms = (
        raw.join(tgt, "bucket", "full_outer")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "bucket",
            (
                F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1)
                - F.log(F.col("tt") + F.lit(n_buckets))
                - F.log(F.coalesce(F.col("cr"), F.lit(0)) + 1)
                + F.log(F.col("tr") + F.lit(n_buckets))
            ).alias("term"),
        )
    )
    # LEFT join + smoothed default: a doc bucket absent from BOTH
    # tables (possible only with an external raw_counts mid-ingest)
    # scores with the both-sides-unseen term rather than dropping
    default_term = (
        F.log(F.lit(1)) - F.log(F.col("tt") + F.lit(n_buckets))
        - F.log(F.lit(1)) + F.log(F.col("tr") + F.lit(n_buckets))
    )
    contrib = (
        doc.join(F.broadcast(terms), "bucket", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "id",
            "bucket",
            "c",
            (F.col("c") * F.coalesce(F.col("term"), default_term)).alias(
                "contrib"
            ),
        )
    )
    folded = contrib.groupBy("id").agg(
        F.sum("c").cast("long").alias("n_feats"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("bucket", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("_logw"),
    )
    return folded.select(
        "id", "n_feats", F.round("_logw", 6).alias("logw")
    )


def dsir_select(
    weights: DataFrame,
    k: int,
    id_col: str = "id",
    logw_col: str = "logw",
    salt: str = "gumbel",
) -> DataFrame:
    """Gumbel-top-k resampling over DSIR log-weights: each doc draws a
    deterministic Gumbel g = -ln(-ln(u)) from the md5 hash of its id
    and the k largest (logw + g) win — exactly sampling-without-
    replacement proportional to exp(logw) (Vieira 2014), but safe in
    log space (no exp overflow) and reproducible from (id, salt).

    Scale shape: the perturbed key is a scan-local projection and the
    global top-k is orderBy + limit, which Spark executes as
    TakeOrderedAndProject — each partition keeps its local top-k heap
    and the driver merges k-sized heaps, NO global sort or
    single-partition window. Mergeable across shards for the same
    reason: the global top-k is the top-k of per-shard top-ks."""
    # u = (bucket + 0.5)/MOD keeps u strictly inside (0, 1): with
    # (bucket + 1) a key hashing to bucket MOD-1 gives u = 1.0 exactly,
    # where -log(-log(1)) is log(0) -> NULL in Spark (the doc would be
    # silently unselectable) but +inf in DuckDB (ranked first) — an
    # engine mismatch on ~1e-6 of any corpus
    u = (hash_bucket(F.col(id_col), salt) + 0.5) / F.lit(float(_MOD))
    key = F.col(logw_col) + (-F.log(-F.log(u)))
    return (
        weights.select(id_col, logw_col, key.alias("_gkey"))
        .orderBy(F.col("_gkey").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, logw_col, F.round(F.col("_gkey"), 6).alias("gumbel_key"))
    )


def cell_balanced_sample(
    df: DataFrame,
    centroids: list[list[float]],
    cap: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "",
) -> DataFrame:
    """Cluster-balanced subset selection: assign every vector to its
    nearest centroid cell, then keep at most ``cap`` rows per cell,
    chosen by deterministic hash rank — the diversity-preserving
    downsample (D4-style: dense regions contribute at most cap
    examples, sparse regions survive whole) that a plain uniform
    sample cannot give you.

    Returns (cell, id) for the kept rows.

    Scale shape: assignment is scan-local (Arrow matmul for wide
    centroid sets); the quota is group_cap's one cell-keyed shuffle —
    enable its prefilter regime when single cells are web-scale."""
    from mofka_spark.operators.similarity import assign_cells

    cells = assign_cells(df, centroids, id_col, vec_col)
    return group_cap(cells, "id", "cell", cap, salt).select("cell", "id")


def interleave_strata(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    salt: str = "interleave",
) -> DataFrame:
    """Deterministic proportional interleaving for training order:
    every stratum is spread uniformly through the epoch instead of
    arriving in blocks (which would make the loss curve ride the
    domain schedule). Each row gets

        interleave_key = (rank_in_stratum - 0.5) / n_stratum

    with the in-stratum order itself a deterministic hash shuffle —
    sorting by interleave_key yields the classic low-discrepancy
    schedule: a stratum with share p contributes ~every 1/p-th row.
    Pure integer-derived doubles, so engines agree bit-for-bit.

    Returns (strata_col, key_col, interleave_key); writers order by
    (interleave_key, stratum, key) — a total deterministic order.

    Scale shape: one stratum-keyed shuffle for the rank window (the
    exact/gate form); corpus-scale strata swap the window for
    epoch_shuffle's distributed prefix-sum rank, same key formula."""
    bucket = hash_bucket(F.col(key_col), salt)
    w = Window.partitionBy(strata_col).orderBy(bucket.asc(), F.col(key_col).asc())
    cnt = Window.partitionBy(strata_col)
    return df.select(
        strata_col,
        key_col,
        (
            (F.row_number().over(w) - F.lit(0.5))
            / F.count("*").over(cnt)
        ).alias("interleave_key"),
    )


def cluster_safe_split(
    components: DataFrame,
    fractions: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by the near-dup
    CLUSTER keeper instead of the raw document id, so every member of
    a duplicate cluster lands in the same split — the fix for the
    contamination split_leakage audits (a near-copy of a training doc
    sitting in test silently inflates eval).

    ``components`` is (id, keeper_id) from minhash_lsh_dedup(
    transitive=True) / dedup_components — singletons carry themselves.
    Returns (id, keeper_id, split) with split_assign's hash semantics
    on the keeper.

    Scale shape: a scan-local hash projection over the components
    frame (the expensive part — clustering — is the dedup pipeline the
    corpus already runs); no extra shuffle."""
    return split_assign(
        components.select("id", "keeper_id"), "keeper_id", fractions, salt
    )


def temperature_shares(
    df: DataFrame,
    strata_col: str,
    temperature: float = 1.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Sampling-temperature mixture shares: share_s proportional to
    (w_s / W)^(1/T) — the standard multilingual/multi-source
    rebalancing knob (mT5/XLM-R style). T=1 reproduces natural
    proportions, T -> inf approaches uniform, T < 1 sharpens toward
    the head. Returns one row per stratum: (stratum, available,
    natural_share, share); feed ``share`` into mixture_plan's targets
    to turn the temperature into repeat factors.

    Relationship to ``temperature_mix`` (above): same proportions
    (alpha = 1/T), different deliverable — temperature_mix SAMPLES
    ~target_rows rows at those proportions, this returns the share
    TABLE for budget planning (mixture_plan / reporting).

    Scale shape: ONE stratum-keyed aggregate collapses the corpus to
    O(#strata) rows; every power/normalization happens in-row on the
    collected stratum array, so corpus volume touches only the first
    aggregate.

    Float identity (gate discipline): p^(1/T) is computed as
    exp(ln(p)/T) — the pow() expansion both engines evaluate
    identically — and both normalizing sums are stratum-ordered folds,
    so an external engine reproduces every share bit-for-bit."""
    if temperature <= 0:
        raise ValueError("temperature_shares: temperature must be > 0")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    counts = (
        df.filter(F.col(strata_col).isNotNull())
        .groupBy(F.col(strata_col).alias("stratum"))
        .agg(F.sum(w).alias("available"))
        # With weight_col, a stratum whose weight sum is <= 0 would make
        # F.log return NULL, and that NULL propagates through the _pp
        # fold into _denom — silently NULLing EVERY stratum's share
        # (and diverging from engines that error on ln(<=0)). A
        # non-positive-weight stratum has no sampling mass to allocate:
        # drop it, mirroring the temperature<=0 guard.
        .filter(F.col("available") > 0)
    )
    one = counts.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("stratum"), F.col("available")))
        ).alias("arr")
    )
    add = lambda acc, x: acc + x  # noqa: E731
    total = F.aggregate(
        F.transform("arr", lambda s: s["available"].cast("double")),
        F.lit(0.0),
        add,
    )
    one = one.withColumn("_total", total)
    powered = F.transform(
        "arr",
        lambda s: F.exp(
            F.log(s["available"].cast("double") / F.col("_total"))
            / F.lit(float(temperature))
        ),
    )
    one = one.withColumn("_pp", powered).withColumn(
        "_denom", F.aggregate("_pp", F.lit(0.0), add)
    )
    return one.select(
        F.posexplode("arr").alias("_i", "_s"),
        "_total",
        "_pp",
        "_denom",
    ).select(
        F.col("_s.stratum").alias("stratum"),
        F.col("_s.available").cast("double").alias("available"),
        F.round(
            F.col("_s.available").cast("double") / F.col("_total"), 6
        ).alias("natural_share"),
        F.round(
            F.element_at("_pp", F.col("_i") + 1) / F.col("_denom"), 6
        ).alias("share"),
    )


def mixture_plan(
    df: DataFrame,
    strata_col: str,
    targets: dict[str, float],
    budget: int,
    weight_col: str | None = None,
    max_repeat: float = 4.0,
) -> DataFrame:
    """Training-mixture budgeting: given target shares per stratum and
    a total budget (docs, or tokens via ``weight_col``), compute each
    stratum's required repeat factor — the "how many epochs of books
    to hit 5% of a 2T-token mix" calculation, with the UniMax-style
    cap (``max_repeat``) that stops scarce strata from being repeated
    into memorization. Shares need not sum to 1 (they are per-stratum
    contracts); strata absent from ``targets`` are omitted.

    Returns one row per targeted stratum: (stratum, available,
    target_share, desired, repeat_factor, realized, capped) — desired
    = share x budget, repeat_factor = min(desired/available,
    max_repeat), realized = available x repeat_factor (< desired only
    when capped). Feed repeat_factor to mixture_expand (or a loader's
    epoch schedule).

    Scale shape: ONE stratum-keyed aggregate (count or weight sum) —
    the corpus is scanned once and O(#strata) rows do all the
    arithmetic."""
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    counts = (
        df.filter(F.col(strata_col).isNotNull())
        .groupBy(F.col(strata_col).alias("stratum"))
        .agg(F.round(F.sum(w), 4).alias("available"))
    )
    share = None
    for s, t in sorted(targets.items()):
        cond = F.col("stratum") == s
        share = (
            F.when(cond, F.lit(float(t)))
            if share is None
            else share.when(cond, F.lit(float(t)))
        )
    if share is None:
        raise ValueError("mixture_plan needs at least one target")
    plan = counts.withColumn("target_share", share).filter(
        F.col("target_share").isNotNull()
    )
    desired = F.col("target_share") * F.lit(float(budget))
    repeat = F.least(
        desired / F.col("available"), F.lit(float(max_repeat))
    )
    return plan.select(
        "stratum",
        "available",
        "target_share",
        F.round(desired, 4).alias("desired"),
        F.round(repeat, 6).alias("repeat_factor"),
        F.round(F.col("available") * repeat, 4).alias("realized"),
        (desired / F.col("available") > F.lit(float(max_repeat))).alias(
            "capped"
        ),
    )


def mixture_expand(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Materialize a mixture with UPSAMPLING: each row of stratum s
    appears floor(rate_s) times plus one more with probability
    frac(rate_s), decided by the deterministic md5 hash of its key —
    the repetition counterpart of stratified_hash_sample (training_mix
    covers rates <= 1; this covers 'repeat de 2.5x'). Copies carry a
    1-based ``copy`` index so downstream shuffles/packing can
    disambiguate repeats. Strata absent from ``rates`` are dropped.

    Deterministic: the copy multiset is a pure function of
    (key, salt, rates) — an external engine reproduces it exactly.

    Scale shape: scan-local — the copy count is a literal-map lookup
    plus one hash compare, and the fan-out happens INSIDE the row
    (explode of a sequence); no shuffle, no join. Output size =
    sum(rate_s x |s|) by construction."""
    import math

    n_full_c = None
    frac_c = None
    for s, r in sorted(rates.items()):
        if r < 0:
            raise ValueError(f"negative rate for stratum {s!r}")
        nf, fr = int(math.floor(r)), float(r - math.floor(r))
        cond = F.col(strata_col) == s
        n_full_c = (
            F.when(cond, F.lit(nf))
            if n_full_c is None
            else n_full_c.when(cond, F.lit(nf))
        )
        frac_c = (
            F.when(cond, F.lit(fr))
            if frac_c is None
            else frac_c.when(cond, F.lit(fr))
        )
    u = hash_bucket(F.col(id_col), salt).cast("double") / F.lit(float(_MOD))
    copies = (
        n_full_c + F.when(u < frac_c, F.lit(1)).otherwise(F.lit(0))
    ).cast("int")
    seq = F.when(
        copies >= 1, F.sequence(F.lit(1), copies)
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.withColumn("_copies", copies)
        .filter(F.col("_copies").isNotNull())
        .select(
            id_col,
            strata_col,
            F.explode(seq).alias("copy"),
        )
    )


def curriculum_select(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    key_col: str,
    budget: int,
    n_bins: int = 1024,
    exact_bin_rows: int = 1_000_000,
) -> DataFrame:
    """Greedy token-budget selection: take rows in (score desc, key
    asc) order until the running sum of ``weight_col`` (integral — a
    token count) reaches ``budget``; the row that crosses the line is
    kept, so the overshoot is at most one row. The "fill a 1T-token
    training budget with the best-scoring documents" primitive that
    rank_bins' equal-population curriculum doesn't answer.

    Returns the selected (key, score, weight) rows. Rows with a NULL
    score or weight carry no rank/budget information and are excluded.

    Scale shape: a literal global sort would shuffle the whole corpus
    to rank it; instead scores are cut into ``n_bins`` fixed-width
    bins from one O(1) min/max aggregate, per-bin weight totals (<=
    n_bins rows) come back to the driver, and the threshold bin is
    found there. Every row in a strictly-better bin is selected by a
    scan-local filter (no sort at all); only the ONE partial bin —
    ~1/n_bins of the data — pays an exact (score desc, key asc)
    cumulative sum. Up to ``exact_bin_rows`` rows that is one small
    single-partition window (cheapest); above it — notably the
    degenerate score range (min == max: the WHOLE corpus lands in one
    bin) — it switches to a DISTRIBUTED prefix sum (range-partition in
    greedy order + per-partition windows + driver bases, packing's
    decomposition), so no input shape ever sorts the corpus on one
    partition. Both paths return identical rows. Weights are cast to
    long so the split sums commute exactly with the oracle's
    sequential running sum (no float association drift)."""
    y = F.col(score_col).cast("double")
    w = F.col(weight_col).cast("long")
    # Materialize the narrow (key, score, weight) projection once: it
    # is scanned 3+ times (bounds agg, bin totals, full-bin filter,
    # partial-bin split), and the upstream score/weight expressions are
    # often regexp token counts over full text — without a checkpoint
    # they re-evaluate per scan (blend_scores' discipline; _spread
    # widens narrow parquet inputs first).
    from mofka_spark.operators.dedup import _spread

    obs = _spread(
        df.filter(y.isNotNull() & ~F.isnan(y) & w.isNotNull()).select(
            F.col(key_col),
            y.alias(score_col),
            w.alias(weight_col),
        ),
        key_col,
    ).localCheckpoint(eager=True)
    if budget <= 0:
        return obs.filter(F.lit(False))
    lo, hi = obs.agg(
        F.min(score_col), F.max(score_col)
    ).first() or (None, None)
    if lo is None:
        return obs.filter(F.lit(False))

    if hi > lo:
        width = (hi - lo) / n_bins
        bin_c = F.least(
            F.floor((y - F.lit(lo)) / F.lit(width)).cast("long"),
            F.lit(n_bins - 1),
        )
    else:
        bin_c = F.lit(0).cast("long")
    binned = obs.withColumn("_bin", bin_c)

    # <= n_bins rows: a bounded driver fetch (the repo's broadcast-side
    # collect pattern), never corpus-sized.
    stats = {
        r["_bin"]: (r["_w"], r["_n"])
        for r in binned.groupBy("_bin")
        .agg(F.sum(weight_col).alias("_w"), F.count("*").alias("_n"))
        .collect()
    }
    taken = 0
    cut_bin = None
    for b in sorted(stats, reverse=True):
        if taken + stats[b][0] >= budget:
            cut_bin = b
            break
        taken += stats[b][0]
    if cut_bin is None:
        # budget exceeds the corpus: everything is selected.
        return binned.drop("_bin")

    full = binned.filter(F.col("_bin") > cut_bin).drop("_bin")
    residual = budget - taken
    slice_ = binned.filter(F.col("_bin") == cut_bin).drop("_bin")
    order = [F.col(score_col).desc(), F.col(key_col).asc()]
    cut_rows = stats[cut_bin][1]
    if cut_rows <= exact_bin_rows:
        # Generic case: the cut bin is ~1/n_bins of the corpus — one
        # exact running-sum window over a slice this small is cheaper
        # than the distributed machinery (range-sampling pass +
        # checkpoint + totals collect).
        win = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, -1
        )
        partial = (
            slice_.withColumn(
                "_prior", F.coalesce(F.sum(weight_col).over(win), F.lit(0))
            )
            .filter(F.col("_prior") < residual)
            .drop("_prior")
        )
        return full.unionByName(partial)
    # Degenerate/huge cut bin (min == max score drops the WHOLE corpus
    # into one bin — unscored corpora defaulting to a constant are a
    # real input): the exact running sum as a DISTRIBUTED prefix sum
    # (packing._rank_by_id's decomposition) — range-partition the
    # slice in greedy order, per-partition running sums, per-partition
    # totals back to the driver (<= defaultParallelism rows),
    # broadcast cumulative bases. RangePartitioner assigns ranges in
    # partition-index order for the given sort expressions, so pid
    # order IS greedy order; integral weights make the split-sum
    # exactly equal the sequential fold, so both paths return
    # identical rows.
    n_ranges = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint the _pid-stamped frame, not a leaked persist():
    # it is read twice (per-partition totals collect + the returned
    # filter), and RangePartitioner re-sampling on a recompute could
    # re-draw range bounds — the checkpoint freezes _pid. GC-bounded
    # (blocks reclaimed when the frame is collected), so repeated
    # degenerate-bin calls in a long-lived session never accumulate
    # cached blocks — same discipline as dedup.containment_candidates.
    # Checkpointing BEFORE the window keeps the (partition-local)
    # running-sum Sort in the returned plan; recomputing it twice over
    # the bin slice is cheaper than pinning post-window blocks forever.
    ranged = (
        slice_.repartitionByRange(n_ranges, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("_pid").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = ranged.withColumn(
        "_prior", F.coalesce(F.sum(weight_col).over(w), F.lit(0))
    )
    ptotals = (
        local.groupBy("_pid").agg(F.sum(weight_col).alias("_t")).collect()
    )
    if not ptotals:
        return full
    base: dict[int, int] = {}
    acc = 0
    for r in sorted(ptotals, key=lambda r: r["_pid"]):
        base[r["_pid"]] = acc
        acc += r["_t"]
    base_col = F.create_map(*[F.lit(x) for kv in base.items() for x in kv])
    partial = local.filter(
        base_col[F.col("_pid")] + F.col("_prior") < residual
    ).drop("_pid", "_prior")
    return full.unionByName(partial)


def group_token_cap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    weight_col: str,
    cap: int,
    salt: str = "",
) -> DataFrame:
    """Token-budget quota per group: keep rows in deterministic hash
    order until each group's running sum of ``weight_col`` (integral —
    a token count) reaches ``cap``; the crossing row is kept, so the
    per-group overshoot is at most one row. group_cap's row quota says
    "at most N documents per domain"; this says "at most N TOKENS per
    domain" — the budget web-corpus curation actually enforces (a
    domain of 10-token stubs and one of 10k-token pages get the same
    token mass, not the same doc count).

    Rows with a NULL weight carry no budget information and are
    dropped. Selection is deterministic ((hash, key) order), not
    append-stable (like group_cap).

    Scale shape: ONE shuffle on the group key + a per-group sort
    shared by the running-sum window; weights are cast to long so the
    cumulative sums are exact. For pathological hot groups, pre-cap
    rows with group_cap(prefilter=True) first — the window then sorts
    the quota survivors, not the group."""
    w = F.col(weight_col).cast("long")
    obs = df.filter(w.isNotNull())
    bucket = hash_bucket(F.col(key_col), salt)
    win = (
        Window.partitionBy(group_col)
        .orderBy(bucket.asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        obs.withColumn(
            "_prior",
            F.coalesce(F.sum(w).over(win), F.lit(0)),
        )
        .filter(F.col("_prior") < cap)
        .drop("_prior")
    )
