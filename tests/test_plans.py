"""Physical-plan regression tests: the 100 TB plan shapes SCALING.md
claims, asserted via explain output so a refactor can't silently
regress them (mofka_spark.plans helpers)."""

import pytest
from pyspark.sql import functions as F

from mofka_spark import plans, queries


SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    """Plan-shape pins must see FRESH planning. Earlier tests (e.g. the
    all-gates schema walk) legitimately leave frames persisted for the
    session; CacheManager then substitutes those cached fragments —
    whose PHYSICAL plans were frozen under whatever confs held at
    persist time (e.g. the default broadcast threshold) — into
    matching subtrees here, so an assertion like 'no BroadcastHashJoin
    under threshold=-1' would be judging a stale cached plan, not the
    planner."""
    spark.catalog.clearCache()
    yield


class TestRelationalPlans:
    def test_q5_broadcasts_dims(self, spark):
        df = queries.SPARK_QUERIES["q5_region_revenue"](spark, SF)
        p = plans.plan_string(df)
        # dims explicitly broadcast; at sf0.001 even the fact join fits
        # the auto-broadcast threshold, so only assert broadcasts exist
        # (the fact-side SMJ shows up from sf0.1 — see BENCH plan audit)
        assert "BroadcastHashJoin" in p

    def test_eventbridge_numeric_prunes_columns(self, spark):
        df = queries.SPARK_QUERIES["eventbridge_numeric"](spark, SF)
        rs = plans.scan_schema(df)
        # only the referenced columns reach the scan
        assert "props" in rs and "event_id" in rs
        assert "user_id" not in rs

    def test_dedup_exact_single_shuffle(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        from mofka_spark.operators.dedup import exact_dedup

        # simple mode lists each physical node once (formatted repeats
        # them in the details section)
        p = plans.plan_string(exact_dedup(docs), mode="simple")
        assert p.count("Exchange") == 1
        assert "partial_" in plans.plan_string(exact_dedup(docs))  # map-side agg


class TestLogPlans:
    def test_partition_subset_prunes_directories(self, driver):
        topic = driver.create_topic("plan-sub", num_partitions=4)
        with topic.producer("p") as prod:
            for i in range(8):
                prod.push({"n": i}, partition=i % 4)
        df = topic.dataframe(partitions=[1, 2])
        p = plans.plan_string(df)
        # Hive-style partition filter, pruned at planning time
        assert "PartitionFilters" in p and "partition" in p

    def test_read_tail_offset_pushdown(self, driver):
        topic = driver.create_topic("plan-tail", num_partitions=1)
        with topic.producer("p") as prod:
            for i in range(10):
                prod.push({"n": i})
        df = topic.log.read_tail({0: 5}, batch_size=3)
        assert plans.has_pushed_filter(df, "offset")
        assert not plans.has_operator(df, "Window")


class TestOperatorPlans:
    def test_brute_force_topk_broadcasts_queries(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        from mofka_spark.operators.similarity import brute_force_topk

        out = brute_force_topk(emb.filter(F.col("vec_id") < 4), emb, k=3)
        assert plans.has_operator(out, "BroadcastNestedLoopJoin") or plans.has_operator(
            out, "BroadcastHashJoin"
        )

    def test_hash_sample_no_exchange(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        from mofka_spark.operators.sampling import hash_sample

        assert not plans.has_operator(hash_sample(docs, "doc_id", 0.5), "Exchange")

    def test_asof_join_no_join_operator(self, spark):
        from mofka_spark.operators.joins import asof_join
        from mofka_spark.queries import load_events

        ev = load_events(spark, f"{SF}/events.parquet")
        left = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
        out = asof_join(left, right, on="ts", by=["user_id"], value_cols=["value"])
        p = plans.plan_string(out)
        assert "Join" not in p  # linear union+window, no pair explosion
        assert "Window" in p


class TestAqeSkew:
    def test_skewed_join_split_by_aqe(self, spark):
        """The engine's answer to join skew is AQE's skew-join split
        (SCALING.md 'Relational queries'); this pins that the session
        confs actually produce a skew=true sort-merge join on a
        pathologically skewed key, rather than one straggler task."""
        confs = {
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            # 50k rows of key 0 (with wide padding) vs uniform keys
            left = (
                spark.range(0, 50_000)
                .select(
                    F.when(F.col("id") < 49_000, 0)
                    .otherwise(F.col("id") % 64)
                    .alias("k"),
                    F.concat(F.lit("x" * 64), F.col("id")).alias("pad"),
                )
            )
            right = spark.range(0, 64).select(
                (F.col("id") % 64).alias("k"), F.lit("r").alias("rv")
            )
            out = left.join(right, "k")
            out.collect()  # materialize THIS df so its AQE plan finalizes
            p = out._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in p, p[:2000]
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestSaltedJoin:
    def test_exchange_partitioned_by_key_and_salt(self, spark):
        """With broadcast off, the salted join's shuffle keys must
        include the salt — that's the whole point (a hot key's rows
        spread across nsalts reducers instead of one)."""
        from mofka_spark.operators.joins import salted_join

        ev = spark.read.parquet(f"{SF}/events.parquet").select(
            "event_id", "event_type", "value"
        )
        dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = salted_join(ev, dim, on="event_type", salt_by="event_id", nsalts=8)
            p = plans.plan_string(out)
            assert "_salt" in p
            import re

            parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
            # both SMJ input exchanges shuffle on (key, salt); the dim's
            # upstream groupBy exchange is key-only and doesn't count
            salted = [x for x in parts if "event_type" in x and "_salt" in x]
            assert len(salted) >= 2, p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_salt_by_join_key_rejected(self, spark):
        from mofka_spark.operators.joins import salted_join

        ev = spark.read.parquet(f"{SF}/events.parquet")
        with pytest.raises(ValueError):
            salted_join(ev, ev, on="event_type", salt_by="event_type")

    def test_outer_joins_rejected(self, spark):
        """Right/full-outer would emit unmatched small-side rows once
        per salt replica — refuse instead of silently multiplying."""
        from mofka_spark.operators.joins import salted_join

        ev = spark.read.parquet(f"{SF}/events.parquet")
        dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
        for how in ("right", "full", "outer", "full_outer"):
            with pytest.raises(ValueError):
                salted_join(
                    ev, dim, on="event_type", salt_by="event_id", how=how
                )
        # left stays allowed (big side never replicates)
        salted_join(ev, dim, on="event_type", salt_by="event_id", how="left")


class TestMinhashPlanShape:
    def test_candidates_banded_never_all_pairs(self, spark):
        """Pin the full minhash pipeline's plan: the self-join must go
        through the (band_id, band_hash) bucket exchange with the
        hot-bucket-cap window on the same keys, and must NEVER appear
        as BroadcastNestedLoopJoin/CartesianProduct (the all-pairs
        shape a condition-ordering refactor could silently produce)."""
        from mofka_spark.operators.dedup import minhash_lsh_candidates

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = minhash_lsh_candidates(docs)
            p = plans.plan_string(out)
            assert "BroadcastNestedLoopJoin" not in p
            assert "CartesianProduct" not in p
            # bucket-cap window runs over the band keys
            assert "band_id" in p and "band_hash" in p
            assert "Window" in p
            import re

            parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
            banded = [x for x in parts if "band_id" in x and "band_hash" in x]
            assert banded, p
            # the join itself is an equi-join on the band keys
            assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_dedup_pipeline_verify_joins_candidates_only(self, spark):
        """minhash_lsh_dedup's verify stage must join the gram frame
        onto the candidate pairs, never onto all doc pairs."""
        from mofka_spark.operators.dedup import minhash_lsh_dedup

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = minhash_lsh_dedup(docs)
        p = plans.plan_string(out)
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p

    def test_soft_dedup_sizes_join_never_broadcast_hinted(self, spark):
        """soft_dedup_weights' sizes table is O(#unique docs) — in a
        mostly-unique corpus it is corpus-sized, so the code must not
        broadcast-HINT it (the r6 fix this pins). With auto-broadcast
        disabled, any BroadcastExchange in the plan can only come from
        a hint; AQE is still free to broadcast at runtime when the
        frame is genuinely small."""
        from mofka_spark.operators.dedup import soft_dedup_weights

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            comps = spark.createDataFrame(
                [(i, i % 7) for i in range(50)], "id long, keeper_id long"
            )
            p = plans.plan_string(soft_dedup_weights(comps))
            assert "BroadcastExchange" not in p, p
            assert "BroadcastHashJoin" not in p, p
            # the intended shape: sizes agg + join share the keeper_id
            # hash partitioning
            assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


class TestTextOperatorPlans:
    def test_inverted_index_prunes_and_combines(self, spark):
        from mofka_spark.operators.text import inverted_index

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = inverted_index(docs)
        rs = plans.scan_schema(out)
        assert "doc_id" in rs and "text" in rs and "lang" not in rs
        p = plans.plan_string(out)
        assert "partial_" in p  # map-side combine before the token exchange
        # the presence-list trick: no exchange keyed on (doc, token) —
        # pairs arrive distinct from array_distinct inside the row
        import re

        pairs_keys = re.findall(r"hashpartitioning\(([^)]*)\)", p)
        assert not any("doc" in x and "token" in x for x in pairs_keys), p

    def test_novelty_prunes_columns(self, spark):
        from mofka_spark.operators.text import novelty_scores

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        rs = plans.scan_schema(novelty_scores(docs))
        assert "doc_id" in rs and "text" in rs and "source" not in rs

    def test_segment_dedup_single_rank_window(self, spark):
        from mofka_spark.operators.text import segment_dedup

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        p = plans.plan_string(segment_dedup(docs), mode="simple")
        # one logical rank window (per segment hash); reassembly is an
        # aggregate, not a second window
        assert "row_number" in p


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Both sides bucketed on the join key at the same count: the
        join plan must carry NO Exchange — the write-time bucketing IS
        the shuffle, paid once (the co-location strategy for repeated
        100 TB fact-to-fact joins)."""
        from mofka_spark.operators.layout import bucketize

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            orders = spark.read.parquet(f"{SF}/orders.parquet")
            cust = spark.read.parquet(f"{SF}/customer.parquet")
            bucketize(
                orders.withColumnRenamed("o_custkey", "custkey"),
                "bk_orders", ["custkey"], num_buckets=8, sort_cols=["custkey"],
            )
            bucketize(
                cust.withColumnRenamed("c_custkey", "custkey"),
                "bk_cust", ["custkey"], num_buckets=8, sort_cols=["custkey"],
            )
            joined = spark.table("bk_orders").join(spark.table("bk_cust"), "custkey")
            p = plans.plan_string(joined, mode="simple")
            assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
            assert "Exchange" not in p, p
            # and the result is right
            plain = (
                orders.join(cust, orders.o_custkey == cust.c_custkey).count()
            )
            assert joined.count() == plain
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS bk_orders")
            spark.sql("DROP TABLE IF EXISTS bk_cust")


class TestBucketedStoreJoin:
    def _build_store(self, spark, tmp_path):
        from mofka_spark.operators.dedup import minhash_band_rows
        from mofka_spark.streaming.neardup import neardup_sink

        store = str(tmp_path / "nd-store")
        docs = spark.createDataFrame(
            [(i, f"doc number {i} with some shared words here") for i in range(30)],
            "id long, text string",
        )
        neardup_sink(store)(docs, 0)
        # exact duplicate of stored doc 5: identical signature, so every
        # band bucket matches and the history join provably fires
        new = spark.createDataFrame(
            [(100, "doc number 5 with some shared words here")],
            "id long, text string",
        )
        new_bands = minhash_band_rows(new, "id", "text", 64, 16, 3)
        return store, new_bands

    def test_bucketized_bands_store_side_has_no_exchange(self, spark, tmp_path):
        """After bucketize_bands, the epoch join's history side reads
        the (band_id, band_hash)-bucketed table with NO Exchange — only
        the micro-batch side shuffles into the bucket count. This is
        the SCALING.md deployment prescription, now executable."""
        import os

        from mofka_spark.streaming.neardup import bucketize_bands
        from mofka_spark.streaming.store import read_store_split

        store, new_bands = self._build_store(spark, tmp_path)
        table = "bk_nd_bands_plan"
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            bucketize_bands(spark, store, num_buckets=4, table=table)
            base, _ = read_store_split(
                spark,
                os.path.join(store, "bands"),
                "id long, band_id int, band_hash long",
            )
            assert base is not None
            j = base.join(new_bands, ["band_id", "band_hash"])
            p = plans.plan_string(j, mode="simple")
            assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
            # the STORE side (the join's left branch, ':'-prefixed in
            # the tree) reads co-located bucket files with NO Exchange;
            # the batch side shuffles as usual (its own signature agg
            # plus the bucket alignment)
            left_branch = [
                ln for ln in p.splitlines() if ln.lstrip().startswith(":")
            ]
            assert left_branch, p
            assert any("Bucketed: true" in ln for ln in left_branch), p
            assert not any("Exchange" in ln for ln in left_branch), p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_history_candidates_match_across_layouts(self, spark, tmp_path):
        """history_candidates returns the identical pair set before and
        after bucketize_bands (base + overlay split is an internal
        layout change, not a semantic one)."""
        from mofka_spark.streaming.neardup import (
            bucketize_bands,
            history_candidates,
            neardup_sink,
        )
        from mofka_spark.operators.dedup import minhash_band_rows

        store, new_bands = self._build_store(spark, tmp_path)
        table = "bk_nd_bands_eq"
        try:
            before = {
                (r.id_a, r.id_b)
                for r in history_candidates(spark, store, new_bands).collect()
            }
            bucketize_bands(spark, store, num_buckets=4, table=table)
            after = {
                (r.id_a, r.id_b)
                for r in history_candidates(spark, store, new_bands).collect()
            }
            assert before == after and before  # non-trivial pair set
            # epochs AFTER the maintenance run land in the overlay and
            # still join: append a later epoch and re-check
            docs2 = spark.createDataFrame(
                [(200, "doc number 7 with some shared words here")],
                "id long, text string",
            )
            neardup_sink(store)(docs2, 1)
            nb3 = minhash_band_rows(
                spark.createDataFrame(
                    [(300, "doc number 200 unseen before anywhere at all")],
                    "id long, text string",
                ).union(docs2.select(F.lit(201).alias("id"), "text")),
                "id", "text", 64, 16, 3,
            )
            pairs2 = {
                (r.id_a, r.id_b)
                for r in history_candidates(spark, store, nb3).collect()
            }
            # 201 duplicates 200, which lives ONLY in the post-bucketize
            # overlay epoch — the overlay is visible
            assert (200, 201) in pairs2
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestBucketedPostingsAgg:
    def test_base_groupby_has_no_exchange(self, spark, tmp_path):
        """After bucketize_postings, the token-keyed df-stats aggregate
        over the corpus-sized base runs with NO Exchange (the bucketed
        scan already provides the hash partitioning)."""
        import os

        from mofka_spark.streaming.store import read_store_split
        from mofka_spark.streaming.textindex import (
            bucketize_postings,
            index_sink,
        )

        store = str(tmp_path / "ti")
        sink = index_sink(store)
        docs = spark.createDataFrame(
            [(i, f"tok{i % 7} shared words tok{i % 3}") for i in range(40)],
            "id long, text string",
        )
        sink(docs, 0)
        table = "bk_ti_plan"
        try:
            bucketize_postings(spark, store, num_buckets=4, table=table)
            base, _ = read_store_split(
                spark,
                os.path.join(store, "postings"),
                "token string, doc long, tf double",
            )
            assert base is not None
            agg = base.groupBy("token").count()
            p = plans.plan_string(agg, mode="simple")
            assert "Bucketed: true" in plans.plan_string(agg)
            assert "Exchange" not in p, p
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestRound5OperatorPlans:
    def test_weighted_quantiles_single_exchange(self, spark):
        """The cumulative and total windows AND the final per-group agg
        all share ONE group-keyed exchange."""
        from mofka_spark.operators.sketch import weighted_quantiles

        ev = spark.read.parquet(f"{SF}/events.parquet")
        df = weighted_quantiles(
            ev, "event_type", "value",
            F.pmod(F.col("event_id"), F.lit(5)) + 1, [0.5, 0.9],
        )
        p = plans.plan_string(df, mode="simple")
        assert p.count("Exchange") == 1, p

    def test_bigram_lm_broadcasts_trained_tables(self, spark):
        """The bigram/context/vocab tables broadcast back onto the pair
        stream — no sort-merge join anywhere in the score pass."""
        from mofka_spark.operators.text import bigram_lm_score

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        p = plans.plan_string(bigram_lm_score(docs), mode="simple")
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p, p

    def test_corpus_overlap_broadcasts_sizes_and_hashes_grams(self, spark):
        """Stratum set sizes broadcast onto the pair matrix, and gram
        TEXT never reaches an exchange — grams travel as 60-bit ints
        (the md5/conv projection happens scan-side)."""
        from mofka_spark.operators.text import corpus_overlap

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = corpus_overlap(docs, "source", n=3)
        p = plans.plan_string(df, mode="simple")
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p, p
        # every Exchange keys on the hashed gram (g) or stratum pair —
        # none mentions the raw gram string column
        for ln in p.splitlines():
            if "Exchange hashpartitioning" in ln:
                assert "gram" not in ln, ln


class TestQ6Pushdown:
    def test_filters_reach_scan_single_agg(self, spark):
        df = queries.SPARK_QUERIES["q6_forecast_revenue"](spark, SF)
        p = plans.plan_string(df)
        assert "PushedFilters" in p and "l_shipdate" in p
        rs = plans.scan_schema(df)
        # only the four referenced columns reach the scan
        for c in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
            assert c in rs
        assert "l_orderkey" not in rs and "l_returnflag" not in rs


class TestTpchBreadthPlans:
    """Plan shapes for the Q7-Q22 breadth queries: broadcast dims, no
    cartesian products, decorrelated subqueries stay single-aggregate,
    and scan-level pruning holds."""

    def test_q7_pushes_shipdate_and_broadcasts_nations(self, spark):
        df = queries.SPARK_QUERIES["q7_nation_volume"](spark, SF)
        p = plans.plan_string(df)
        assert plans.has_pushed_filter(df, "l_shipdate")
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p

    def test_q9_part_filter_prunes_before_join(self, spark):
        df = queries.SPARK_QUERIES["q9_product_profit"](spark, SF)
        p = plans.plan_string(df)
        # LIKE '%gear%' lands on the part scan side, not post-join
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        rs = plans.scan_schema(df)
        assert "l_linenumber" not in rs  # column pruning on the fact

    def test_q13_left_join_survives(self, spark):
        # the o_orderpriority predicate must stay in the join condition;
        # a WHERE would convert the left join to inner and drop
        # zero-order customers from the distribution
        df = queries.SPARK_QUERIES["q13_order_distribution"](spark, SF)
        assert (
            plans.has_operator(df, "LeftOuter")
            or "left" in plans.plan_string(df, mode="simple").lower()
        )

    def test_q15_max_is_broadcast_not_window(self, spark):
        df = queries.SPARK_QUERIES["q15_top_supplier"](spark, SF)
        assert not plans.has_operator(df, "Window")
        assert plans.has_operator(df, "BroadcastHashJoin")

    def test_q18_semi_join(self, spark):
        df = queries.SPARK_QUERIES["q18_large_orders"](spark, SF)
        assert "Semi" in plans.plan_string(df)
        assert not plans.has_operator(df, "CartesianProduct")

    def test_q21_single_per_order_aggregate(self, spark):
        # correlated MAX + EXISTS decorrelate into ONE rollup frame:
        # exactly one aggregate keyed on l_orderkey feeds the join
        df = queries.SPARK_QUERIES["q21_waiting_supplier"](spark, SF)
        p = plans.plan_string(df)
        assert "CartesianProduct" not in p
        assert "Semi" in p  # orders status filter applied as semi join

    def test_q22_anti_join(self, spark):
        df = queries.SPARK_QUERIES["q22_idle_customers"](spark, SF)
        assert "Anti" in plans.plan_string(df)

    def test_q19_part_envelope_pushes_to_scan(self, spark):
        # the part-only envelope of the OR (brand IN ..., size <= 15)
        # must reach the part scan as pushed filters — the row-level
        # disjunction alone would broadcast the whole part table
        df = queries.SPARK_QUERIES["q19_disjunctive_revenue"](spark, SF)
        p = plans.plan_string(df)
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        assert plans.has_pushed_filter(df, "p_brand")

    def test_q11_fact_shuffle_reused(self, spark):
        # the HAVING scalar subquery re-references the per-supplier
        # rollup; the two branches share one partial-agg exchange via
        # ReuseExchange, so the fact table is scanned/shuffled once
        df = queries.SPARK_QUERIES["q11_important_share"](spark, SF)
        assert "CartesianProduct" not in plans.plan_string(df)
        df.collect()
        ep = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in ep

    def test_q2_min_cost_single_eligible_pass(self, spark):
        # the correlated MIN runs as a per-part window over ONE
        # eligible pass (min is achieved by an input row, so the
        # equality filter is exact) — NOT as an aggregate joined back
        # onto a second copy of the eligible subtree, which executed
        # the whole lineitem aggregation twice and paid an extra
        # exchange (r14 rewrite, commit 26f4735)
        df = queries.SPARK_QUERIES["q2_min_cost_supplier"](spark, SF)
        p = plans.plan_string(df)
        assert plans.has_operator(df, "Window")
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        # single eligible pass: lineitem is scanned exactly once in
        # the whole plan (the join-back shape scanned it twice)
        assert p.count("lineitem.parquet") == 1

    def test_q20_semi_join_and_date_pushdown(self, spark):
        df = queries.SPARK_QUERIES["q20_excess_suppliers"](spark, SF)
        p = plans.plan_string(df)
        assert "Semi" in p
        assert plans.has_pushed_filter(df, "l_shipdate")
        assert "CartesianProduct" not in p


class TestGlobalPlanAudit:
    """One sweep over EVERY registered batch query: a 100 TB engine
    must never plan a non-broadcast cross product, and every
    BroadcastNestedLoopJoin must be one of the known intentional
    small-frame crosses (pinned below — a NEW one failing this test is
    exactly the review moment we want)."""

    # queries whose plans legitimately contain BNLJ, pinned to the
    # EXACT observed set (sf0.001 audit). Two shapes, both bounded:
    # (a) broadcast query/anchor set crossed with the corpus — the
    #     gate regime of the exact search operators;
    # (b) a one-row global-stats / O(model)-row trained-table frame
    #     broadcast onto every row (corpus stats, idf, LM tables,
    #     quantization scales, DSIR buckets) — the cheapest possible
    #     plan for "join a scalar onto the stream".
    BNLJ_ALLOWED = {
        # (a) broadcast query-set crosses
        "knn_cosine",
        "lsh_recall",
        "ivf_recall",
        "hard_negatives",
        "ranking_metrics",
        "rrf_fusion",
        "modality_embed_knn",
        "distinct_overlap",    # O(#groups) sketch-frame pair matrix
        # (b) scalar / trained-table broadcasts
        "bm25_scores",         # one corpus-stats row
        "lm_scores",           # trained LM tables
        "bigram_lm_scores",    # trained bigram/context/vocab tables
        "tfidf_retrieval",     # query idf row
        "distinctive_terms",   # group total rows
        "pmi_collocations",    # pair/unigram total rows
        "join_skew_report",    # one global-stats row
        "funnel_conversion",   # step-0 user count row
        "rolling_active_users",# window-offset literal frame
        "quantize_embeddings", # one per-dim scales row
        "dsir_weights",        # O(n_buckets) bucket tables
        "dsir_select",         # bucket tables via dsir_weights
        "q11_important_share", # scalar threshold (TPC-H shape)
        "q22_idle_customers",  # scalar avg (TPC-H shape)
        "pq_adc_topk",         # broadcast (query, m x k ADC table) rows
        "ivfpq_topk",          # broadcast (query, probes, ADC table) rows
        "pq_code_table_topk",  # same ADC broadcast over the code table
        "pq_rerank_topk",      # ADC shortlist pass + broadcast query vecs
        "streaming_pq_index",  # same ADC broadcast over the code store
        "doc_hash_knn",        # brute_force_topk broadcast over hash embeds
        "doc_hash_ann",        # recall gate: exact arm = same bounded cross
        "web_hits",            # 1-row L1-norm aggregate broadcast back
    }

    def test_no_cartesian_products_anywhere(self, spark):
        """CartesianProduct (the NON-broadcast cross, quadratic
        shuffle) must not appear in any registered query's plan, and
        BNLJ only where pinned. Streaming-fixture queries are skipped
        (their function bodies drain a stream; the streaming plans are
        pinned by their own tests)."""
        import inspect

        failures = []
        new_bnlj = []
        for name, fn in queries.SPARK_QUERIES.items():
            src = inspect.getsource(fn)
            if "_stream_fixture" in src or "drain(" in src:
                continue
            try:
                p = plans.plan_string(fn(spark, SF), mode="simple")
            except Exception as e:  # noqa: BLE001
                failures.append((name, f"plan error: {e}"))
                continue
            if "CartesianProduct" in p:
                failures.append((name, "CartesianProduct"))
            if "BroadcastNestedLoopJoin" in p and name not in self.BNLJ_ALLOWED:
                new_bnlj.append(name)
        assert not failures, failures
        assert not new_bnlj, (
            "new BroadcastNestedLoopJoin outside the allowlist — confirm "
            f"the broadcast side is bounded, then pin it: {new_bnlj}"
        )


class TestRuntimeEnvelopes:
    """Execution-verified shuffle budgets: PLANS_RUNTIME.json records
    the actual shuffle bytes each headline gate moved (plan_report.py
    --runtime, status REST API); this test re-EXECUTES a subset and
    asserts the bytes stay inside the recorded envelope — a regression
    that adds a corpus-sized shuffle (lost broadcast, lost map-side
    combine, new distinct) fails here even when the static plan pins
    miss it. Runs in a subprocess: runtime_metrics needs
    spark.ui.enabled, a static conf the shared session fixture
    disables."""

    SUBSET = [
        "q1_pricing_summary",   # map-side combine: ~KB shuffle
        "dedup_exact",          # one hash exchange, keys only
        "user_sessions",        # window after one exchange
        "knn_cosine",           # broadcast queries: ~zero shuffle
        "tfidf_retrieval",      # the multi-shuffle pipeline
    ]

    def test_shuffle_bytes_within_envelope(self):
        import json
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env_path = os.path.join(repo, "PLANS_RUNTIME.json")
        if not os.path.exists(env_path):
            pytest.skip("PLANS_RUNTIME.json not generated")
        with open(env_path) as f:
            doc = json.load(f)
        sf_dir = doc["sf_dir"]
        if not os.path.isdir(sf_dir):
            pytest.skip(f"envelope sf_dir {sf_dir} not present")
        names = [n for n in self.SUBSET if n in doc["queries"]]
        assert names, "no envelope for any subset query — regenerate"
        child = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from mofka_spark.session import get_spark
from mofka_spark import plans, queries as q
sf_dir = sys.argv[2]
spark = get_spark(app_name="rt-envelope", master="local[8]",
                  conf={"spark.sql.shuffle.partitions": "8",
                        "spark.ui.enabled": "true", "spark.ui.port": "0"})
spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warmup
out = {}
for name in sys.argv[3:]:
    since = plans.stage_snapshot(spark)  # charge builder-eager stages
    df = q.SPARK_QUERIES[name](spark, sf_dir)
    out[name] = plans.runtime_metrics(df, since=since)
    df = None
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)
print("ENVELOPE_RESULT " + json.dumps(out))
spark.stop()
"""
        proc = subprocess.run(
            [sys.executable, "-c", child, repo, sf_dir, *names],
            capture_output=True, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [
            ln for ln in proc.stdout.splitlines()
            if ln.startswith("ENVELOPE_RESULT ")
        ]
        assert line, proc.stdout[-2000:]
        got = json.loads(line[0][len("ENVELOPE_RESULT "):])
        slack = 4 * 1024 * 1024  # absolute floor for byte-level jitter
        over = []
        for name in names:
            env = doc["queries"][name]["shuffle_write_bytes"]
            now = got[name]["shuffle_write_bytes"]
            if now > env * 1.5 + slack:
                over.append((name, now, env))
        assert not over, (
            "runtime shuffle bytes exceeded the recorded envelope "
            f"(new corpus-sized shuffle?): {over} — if intentional, "
            "regenerate with `python tools/plan_report.py --runtime`"
        )
