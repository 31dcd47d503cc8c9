"""CLI (python -m mofka_spark) tests — mofkactl-analog DDL surface.

Pure metadata ops: no SparkSession is created anywhere here."""

import io
import json
from contextlib import redirect_stdout

import pytest

from mofka_spark.__main__ import main


def run(*argv):
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(list(argv))
    return rc, buf.getvalue()


class TestTopicCommands:
    def test_create_list_show_exists(self, tmp_path):
        root = str(tmp_path)
        rc, out = run("topic", "create", "t1", "-r", root, "-n", "3",
                      "--validator", '{"type": "eventbridge", "pattern": {"a": [1]}}')
        assert rc == 0
        cfg = json.loads(out)
        assert cfg["num_partitions"] == 3
        assert cfg["validator"]["type"] == "eventbridge"

        rc, out = run("topic", "list", "-r", root)
        assert rc == 0 and out.split() == ["t1"]

        rc, out = run("topic", "exists", "t1", "-r", root)
        assert rc == 0 and out.strip() == "true"
        rc, out = run("topic", "exists", "nope", "-r", root)
        assert rc == 1 and out.strip() == "false"

        rc, out = run("topic", "show", "t1", "-r", root)
        assert json.loads(out)["name"] == "t1"

    def test_duplicate_create_fails(self, tmp_path):
        root = str(tmp_path)
        assert run("topic", "create", "dup", "-r", root)[0] == 0
        assert run("topic", "create", "dup", "-r", root)[0] == 2

    def test_complete_destroy(self, tmp_path):
        root = str(tmp_path)
        run("topic", "create", "t2", "-r", root)
        rc, out = run("topic", "complete", "t2", "-r", root)
        assert rc == 0 and json.loads(out)["completed"] is True
        assert run("topic", "destroy", "t2", "-r", root)[0] == 0
        assert run("topic", "exists", "t2", "-r", root)[0] == 1

    def test_partition_add_and_stats(self, tmp_path):
        root = str(tmp_path)
        run("topic", "create", "t3", "-r", root, "-n", "1")
        rc, out = run("partition", "add", "t3", "-r", root, "-n", "2")
        assert rc == 0 and json.loads(out)["num_partitions"] == 3
        rc, out = run("topic", "stats", "t3", "-r", root)
        st = json.loads(out)
        assert st == {"completed": False, "partitions": {"0": 0, "1": 0, "2": 0},
                      "topic": "t3", "total_events": 0}

    def test_bad_json_config(self, tmp_path):
        import pytest
        with pytest.raises(SystemExit):
            run("topic", "create", "bad", "-r", str(tmp_path), "--validator", "not-json")


class TestStoreCommands:
    """store compact / store bucketize: the maintenance cadence for the
    incremental summary stores, runnable without writing a driver
    script (these DO bring up a SparkSession — the spark fixture keeps
    get_spark reusing the test session)."""

    def _textindex(self, spark, store):
        from mofka_spark.streaming.textindex import index_sink, read_index

        sink = index_sink(store)
        sink(spark.createDataFrame([(1, "a b a"), (2, "a c")], "id long, text string"), 0)
        sink(spark.createDataFrame([(3, "b c a")], "id long, text string"), 1)
        return lambda: {
            (r.token, r.df, tuple(r.postings))
            for r in read_index(spark, store, min_df=1, max_df_ratio=1.0).collect()
        }

    def _linestore(self, spark, store):
        from mofka_spark.streaming.linestore import line_count_sink, read_line_counts

        sink = line_count_sink(store)
        text = "shared banner line\nunique body {}"
        sink(spark.createDataFrame([(1, text.format("one")), (2, text.format("two"))], "id long, text string"), 0)
        sink(spark.createDataFrame([(3, text.format("one"))], "id long, text string"), 1)
        return lambda: {tuple(r) for r in read_line_counts(spark, store).collect()}

    # kind -> `store bucketize` arguments for that store
    _BUCKETIZE = {
        "textindex": ["-k", "textindex"],
        "linestore": ["-k", "generic", "--cols", "fp"],
    }

    @pytest.mark.parametrize("kind", ["textindex", "linestore"])
    def test_store_compact_and_bucketize(self, spark, tmp_path, kind):
        store = str(tmp_path / kind)
        snap = getattr(self, f"_{kind}")(spark, store)
        before = snap()
        assert before  # non-trivial store

        rc, out = run("store", "compact", store, "-k", kind)
        assert rc == 0 and json.loads(out)["kind"] == kind
        assert snap() == before
        if kind == "linestore":
            # folded: one stored row per fingerprint
            assert spark.read.parquet(store).count() == len(before)

        table = f"bk_cli_{kind}"
        try:
            rc, out = run(
                "store", "bucketize", store, *self._BUCKETIZE[kind],
                "-b", "2", "--table", table,
            )
            assert rc == 0
            # post-compaction the only epoch is the compacted slot (-1)
            assert json.loads(out)["watermark"] == -1
            assert snap() == before
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_store_compact_requires_group_cols(self, spark, tmp_path):
        rc, _ = run("store", "compact", str(tmp_path / "x"), "-k", "distinct")
        assert rc == 2


class TestBenchmarkGenerate:
    def test_same_seed_same_spec(self):
        args = (
            "benchmark", "generate", "-n", "40", "--seed", "7",
            "-d", "num_partitions=1-8",
            "-d", "producer_batch_size=4,8,16",
            "-d", "consumer_data_selector_selectivity=0.1-0.9",
        )
        rc1, out1 = run(*args)
        rc2, out2 = run(*args)
        assert rc1 == rc2 == 0 and out1 == out2
        spec = json.loads(out1)
        assert spec["num_events"] == 40 and spec["seed"] == 7
        assert 1 <= spec["topic"]["num_partitions"] <= 8
        assert spec["producer"]["producer_batch_size"] in (4, 8, 16)
        assert (
            0.1
            <= spec["consumer"]["consumer_data_selector_selectivity"]
            <= 0.9
        )
        # engine dims land as real Spark conf keys
        assert spec["spark"]["spark.sql.shuffle.partitions"] == "32"
        assert (
            spec["spark"]["spark.sql.autoBroadcastJoinThreshold"]
            == str(10 * 1024 * 1024)
        )

    def test_different_seeds_differ_somewhere(self):
        outs = set()
        for seed in range(6):
            _, out = run(
                "benchmark", "generate", "--seed", str(seed),
                "-d", "num_partitions=1-1000000",
            )
            outs.add(json.loads(out)["topic"]["num_partitions"])
        assert len(outs) > 1

    def test_unknown_dimension_rejected(self):
        import pytest

        from mofka_spark.benchspec import sample_spec

        with pytest.raises(ValueError, match="unknown dimensions"):
            sample_spec(10, overrides={"num_partitionz": "3"})

    def test_engine_config_generate(self):
        # mofkactl config generate analog: deployable Spark conf JSON
        args = (
            "engine-config", "generate", "--seed", "5",
            "-d", "spark_shuffle_partitions=8-64",
        )
        rc1, out1 = run(*args)
        rc2, out2 = run(*args)
        assert rc1 == rc2 == 0 and out1 == out2  # seeded: reproducible
        cfg = json.loads(out1)
        assert cfg["seed"] == 5
        assert 8 <= int(cfg["spark"]["spark.sql.shuffle.partitions"]) <= 64
        # merged over the session defaults: complete, not a fragment
        assert cfg["spark"]["spark.sql.adaptive.enabled"] in ("true", "false")
        assert cfg["spark"]["spark.sql.session.timeZone"] == "UTC"
        # the emitted conf is directly consumable by get_spark(conf=...)
        rc, out = run("engine-config", "generate", "--no-defaults")
        frag = json.loads(out)["spark"]
        assert set(frag) == {
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.files.maxPartitionBytes",
        }

    def test_engine_config_unknown_dim_rejected(self):
        import pytest

        from mofka_spark.benchspec import sample_engine_config

        with pytest.raises(ValueError, match="unknown engine dimensions"):
            sample_engine_config(overrides={"num_partitions": "3"})

    def test_range_grammar(self):
        import random

        from mofka_spark.benchspec import (
            _parse_bool_choice,
            _parse_float_range,
            _parse_int_range,
        )

        rng = random.Random(0)
        assert _parse_int_range("8", rng) == 8
        assert _parse_int_range("-1", rng) == -1
        for _ in range(20):
            assert 1 <= _parse_int_range("1-16", random.Random()) <= 16
            assert _parse_int_range("4,8", random.Random()) in (4, 8)
            assert 0.2 <= _parse_float_range("0.2-0.9", random.Random()) <= 0.9
        assert _parse_bool_choice("true", rng) is True
        assert _parse_bool_choice("false", rng) is False
        assert _parse_bool_choice("true,false", rng) in (True, False)

    def test_generated_spec_runs(self, tmp_path):
        # sample a tiny spec with a real payload and drive it through
        # benchmark run end-to-end (producer + drain)
        _, out = run(
            "benchmark", "generate", "-n", "12", "--seed", "1",
            "-d", "data_total_size=32",
            "-d", "num_partitions=2",
        )
        spec_file = tmp_path / "spec.json"
        spec_file.write_text(out)
        rc, out2 = run(
            "benchmark", "run", "-r", str(tmp_path / "root"),
            "--spec", str(spec_file),
        )
        assert rc == 0
        res = json.loads(out2.strip().splitlines()[-1])
        assert res["events"] == 12 and res["consumer_events"] == 12

    def test_all_sampled_dimensions_steer_the_run(self, tmp_path):
        # every formerly-ignored dimension pinned to its non-default
        # value: schema validator, key_hash selector, compact
        # serializer, 2 producers, fixed (non-adaptive) batching,
        # 4 data blocks, 2 partition-subset consumers with a fixed
        # consume batch size, payload verification on.
        _, out = run(
            "benchmark", "generate", "-n", "10", "--seed", "3",
            "-d", "data_total_size=32",
            "-d", "data_num_blocks=4",
            "-d", "num_partitions=3",
            "-d", "validator=schema",
            "-d", "partition_selector=key_hash",
            "-d", "serializer=compact",
            "-d", "num_producers=2",
            "-d", "producer_adaptive_batch_size=false",
            "-d", "producer_batch_size=4",
            "-d", "num_consumers=2",
            "-d", "consumer_batch_size=3",
            "-d", "consumer_check_data=true",
            "-d", "consumer_data_selector_proportion=0.5",
        )
        spec = json.loads(out)
        assert spec["topic"]["validator"] == "schema"
        assert spec["producer"]["num_producers"] == 2
        spec_file = tmp_path / "spec.json"
        spec_file.write_text(out)
        rc, out2 = run(
            "benchmark", "run", "-r", str(tmp_path / "root"),
            "--spec", str(spec_file),
        )
        assert rc == 0, out2
        res = json.loads(out2.strip().splitlines()[-1])
        assert res["events"] == 10 and res["consumer_events"] == 10
        # the sampled topic layout really landed in the registry
        from mofka_spark.client import Driver
        from mofka_spark.session import get_spark

        drv = Driver(get_spark(app_name="cli-test"), str(tmp_path / "root"))
        cfg = drv.registry.open_topic("bench_topic")
        assert cfg.validator["type"] == "schema"
        assert cfg.selector["type"] == "key_hash"
        assert cfg.serializer["type"] == "compact"


class TestStoreCompactCms:
    def test_cms_kind_compacts(self, spark, tmp_path):
        from mofka_spark.streaming.cms import cms_estimates, cms_sink

        path = str(tmp_path / "cms")
        sink = cms_sink(path, "key", depth=2, width=16)
        sink(spark.createDataFrame([("a",)] * 3, "key string"), 0)
        sink(spark.createDataFrame([("a",)] * 2, "key string"), 1)
        probes = spark.createDataFrame([("a",)], "key string")
        before = cms_estimates(
            spark, path, probes, "key", depth=2, width=16
        ).collect()
        rc, out = run("store", "compact", path, "-k", "cms")
        assert rc == 0 and json.loads(out)["kind"] == "cms"
        after = cms_estimates(
            spark, path, probes, "key", depth=2, width=16
        ).collect()
        assert before == after and after[0].est == 5
        assert set(
            spark.read.parquet(path).select("_epoch").distinct().toPandas()["_epoch"]
        ) == {-1}


class TestCorpusReport:
    def test_report_json_lines(self, spark, tmp_path):
        # write a tiny documents-like parquet via the live session
        df = spark.createDataFrame(
            [("en", "hello world again"), ("en", "hello there"),
             ("de", "guten tag welt")],
            "lang string, text string",
        )
        path = str(tmp_path / "docs.parquet")
        df.write.parquet(path)
        rc, out = run("corpus", "report", path, "-m", "fertility,diversity")
        assert rc == 0
        lines = [json.loads(l) for l in out.strip().splitlines()]
        assert [l["metric"] for l in lines] == ["fertility", "diversity"]
        fert = {r["lang"]: r for r in lines[0]["rows"]}
        assert fert["en"]["n_docs"] == 2 and fert["en"]["n_words"] == 5

    def test_unknown_metric_rejected(self, spark, tmp_path):
        df = spark.createDataFrame([("en", "x")], "lang string, text string")
        path = str(tmp_path / "d.parquet")
        df.write.parquet(path)
        rc, _ = run("corpus", "report", path, "-m", "nope")
        assert rc == 2


class TestLayoutCli:
    def test_layout_optimize_zorder(self, spark, tmp_path, sf_dir):
        # spark fixture keeps the CLI's get_spark() on the test session
        dst = str(tmp_path / "zout")
        rc, out = run(
            "layout", "optimize", f"{sf_dir}/events.parquet", dst,
            "-c", "user_id,value", "-z", "--probe", "-n", "8",
        )
        assert rc == 0
        rep = json.loads(out)
        assert rep["zorder"] is True and rep["cluster_by"] == ["user_id", "value"]
        probes = rep["pruning_ratio_10pct_slice"]
        assert set(probes) == {"user_id", "value"}
        # rewrite is layout-only: same rows come back
        import pyspark.sql.functions as F

        a = spark.read.parquet(dst).agg(
            F.count("*"), F.sum("event_id")
        ).collect()
        b = spark.read.parquet(f"{sf_dir}/events.parquet").agg(
            F.count("*"), F.sum("event_id")
        ).collect()
        assert a == b

    def test_layout_optimize_requires_columns(self, tmp_path):
        import pytest

        with pytest.raises(SystemExit):
            run("layout", "optimize", "x", "y", "-c", " , ")
