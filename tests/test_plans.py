"""Physical-plan audit: every registry query must be free of the two scale
anti-patterns Catalyst can't save you from — unconditioned cartesian products
and row-at-a-time Python UDFs (BatchEvalPython). Arrow-batched Pandas
operators (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas) are the
sanctioned Python escape hatch and stay allowed. Also pins that the parse
filter reaches the parquet scan as a pushed filter."""

import pytest

from bigtwine_streamprocessor_spark import registry

# queries whose plan is expensive to build repeatedly but structurally
# identical to a cheaper sibling already covered
_SKIP = set()


def _plan(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_scale_antipatterns_in_plan(spark, sf_dir, name):
    if name in _SKIP:
        pytest.skip("covered by sibling")
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name}: unconditioned cross join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


@pytest.fixture(scope="module")
def partitioned_events_dir(spark, sf_dir, tmp_path_factory):
    """Day-partitioned variant of the events table (what a 100 TB deployment
    would lay down): events.parquet rewritten as event_date=YYYY-MM-DD/...."""
    from pyspark.sql import functions as F

    from bigtwine_streamprocessor_spark.session import load_events

    out = str(tmp_path_factory.mktemp("part_events") / "events_by_day")
    (
        load_events(spark, sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .parquet(out)
    )
    return out


def test_partition_pruning_reaches_scan(spark, partitioned_events_dir):
    """A date predicate on the partition column must prune at PLANNING time:
    the scan's PartitionFilters carries the predicate, and the number of
    files actually read shrinks to the matching day-partitions. This is the
    Catalyst capability that turns a 100 TB scan into a one-day scan."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(partitioned_events_dir)
    one_day = ev.filter(F.col("event_date") == "2024-01-03").groupBy(
        "event_type"
    ).count()
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the predicate must appear INSIDE PartitionFilters (not as a post-scan
    # Filter over all partitions)
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_date" in pf, f"partition predicate not pushed: [{pf}]"

    # physical proof: pruned scan touches strictly fewer files than the full
    # table scan
    import glob as g

    all_files = len(g.glob(f"{partitioned_events_dir}/*/*.parquet"))
    day_files = len(
        g.glob(f"{partitioned_events_dir}/event_date=2024-01-03/*.parquet")
    )
    assert 0 < day_files < all_files

    # row-level check: pruned read returns exactly the partition's rows
    got = sum(r["count"] for r in one_day.collect())
    want = spark.read.parquet(
        f"{partitioned_events_dir}/event_date=2024-01-03"
    ).count()
    assert got == want


def test_fingerprints_plan_shape_pinned(spark, sf_dir):
    """text_fingerprints' distinct must keep map-side partial aggregation
    before its single exchange (losing it would ship every raw (doc, hash)
    row through the shuffle — the shape drift r2's bench variance suggested;
    profiling showed the plan never moved, so pin it)."""
    from bigtwine_streamprocessor_spark.operators import textstats

    df = textstats.fingerprints(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one HASH exchange (the distinct); the r15 conditional
    # small-scan spread may add ONE round-robin exchange at the scan (a
    # no-op at real scale — corpus.spread_small_scan), never more
    assert plan.count("Exchange hashpartitioning") == 1, (
        "exactly one hash exchange (the distinct)"
    )
    assert plan.count("Exchange") <= 2, "unexpected extra exchange"
    ex = plan.index("Exchange hashpartitioning")
    # executedPlan prints top-down: final agg ABOVE the exchange, map-side
    # partial BELOW it
    assert "HashAggregate" in plan[:ex], "final aggregate present"
    assert "HashAggregate" in plan[ex:], "map-side partial aggregation lost"


def test_parse_filter_pushdown(spark, sf_dir):
    """The tweet-validity scan must push its filters into the parquet reader
    (PushedFilters non-empty) and prune to the referenced columns."""
    from bigtwine_streamprocessor_spark import corpus
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweets

    plan = (
        parse_tweets(corpus.tweets_df(spark, sf_dir), skip_retweets=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_build_fragments_scans_source_once(spark, sf_dir):
    """The four fragments of a tweet come from one projection over one scan:
    a four-leg union would re-read and re-parse the source in every leg."""
    from bigtwine_streamprocessor_spark import corpus, fragments
    from bigtwine_streamprocessor_spark.operators.parse import parse_tweets

    frags = fragments.build_fragments(
        parse_tweets(corpus.tweets_df(spark, sf_dir), skip_retweets=True)
    )
    plan = frags._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, "source read more than once"
    assert "Union" not in plan


def test_single_file_sort_has_no_sampling_pass(spark, sf_dir):
    """write_single_file's frame reaches its one partition through a single
    shuffle and sorts there: no RangePartitioning, whose sampling job would
    re-run the whole upstream plan before the write."""
    from bigtwine_streamprocessor_spark.operators import export

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        export.single_sorted(df, ["doc_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "RangePartitioning" not in plan
    assert "SinglePartition" in plan
    assert plan.count("Exchange") == 1


def test_bloom_filter_broadcasts_and_join_still_hashes(spark, sf_dir):
    """join_bloom_pruned: the bloom bit-set side must BROADCAST (bounded tiny
    frame), and the exact join after pruning stays a hash join on the key."""
    plan = _plan(spark, sf_dir, "join_bloom_pruned")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram set (eval sets are small by definition) must reach
    the corpus side via broadcast, not a shuffled join."""
    plan = _plan(spark, sf_dir, "decontaminate_benchmark")
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_has_no_global_sort(spark, sf_dir):
    """Packing must window per-source (parallel shards), never collapse to a
    single-partition global sort."""
    plan = _plan(spark, sf_dir, "pack_sequences")
    # per-source window: a hashpartitioning exchange on source, no
    # SinglePartition coalesce for the window operator
    assert "hashpartitioning(source" in plan
    assert "singlepartition" not in plan.lower()


def test_curation_scans_are_map_only(spark, sf_dir):
    """Quality rules / repetition / redaction are map-only JVM scans: zero
    exchanges, zero Python. (HOF lambdas keep these out of whole-stage
    codegen, but they stay interpreted-JVM Column expressions — the scale
    properties that matter are no shuffle and no BatchEvalPython.)"""
    for name in ("text_gopher_rules", "text_repetition_ratio", "text_pii_redaction"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name}: unexpected shuffle"
        assert "EvalPython" not in plan, f"{name}: Python in the scan"


def test_global_shuffle_has_no_data_sized_global_window(spark, sf_dir):
    """The shuffle rank must compute per md5-prefix bucket (hash-partitioned
    window); only the bounded 256-row offset table may be single-partition."""
    plan = _plan(spark, sf_dir, "shuffle_global")
    assert "hashpartitioning(_b" in plan
