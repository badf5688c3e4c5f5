"""Physical-plan checks: the things that matter at 100 TB.

- native filters placed BEFORE Python stages reach the parquet scan as
  PushedFilters (lang gate never runs behind the UDF);
- only consumed columns are read (ReadSchema pruning);
- small dimension joins go broadcast;
- the fused KG pipeline contains exactly one Python stage and no shuffle.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_path(spark, pages_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    pages_df.write.parquet(p)
    return p


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_lang_filter_pushed_down(spark, docs_path):
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    plan = _plan(annotate_and_extract_triples(en))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning(spark, docs_path):
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    plan = _plan(annotate_and_extract_triples(en))
    # html/warc_ts are never read from the scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_fused_pipeline_single_python_stage(spark, docs_path):
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    plan = _plan(annotate_and_extract_triples(en))
    # exactly one Python stage node in the plan tree
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    # the ONLY exchange permitted is the input-spread round-robin BELOW
    # the Python stage (r9: an under-partitioned local scan is spread to
    # the session's parallelism so the compute-bound kernel uses every
    # core); the kernel's OUTPUT never shuffles
    assert tree.count("Exchange") <= 1
    if "Exchange" in tree:
        assert "RoundRobinPartitioning" in plan


def test_fused_pipeline_no_spread_when_well_partitioned(spark, docs_path):
    """A well-partitioned input (the 100 TB shape) keeps the map-only
    plan: the r9 conditional spread must be a no-op, so the only
    Exchange is the caller's own repartition."""
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    en = en.repartition(spark.sparkContext.defaultParallelism)
    plan = _plan(annotate_and_extract_triples(en))
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    assert tree.count("Exchange") == 1  # the caller's own, none added


def test_fused_pipeline_honors_caller_coalesce(spark, docs_path):
    """An EXPLICITLY under-partitioned input (coalesce + cache — e.g. a
    concurrency-controlled measurement leg, or any caller that chose its
    layout) must NOT be re-spread: the conditional spread exists to fix
    accidental byte-split scans, not to override caller intent."""
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    lo = en.coalesce(2).cache()
    try:
        lo.count()
        out = annotate_and_extract_triples(lo)
        tree = _plan(out).split("\n\n")[0]
        assert "RoundRobinPartitioning" not in tree
        assert out.rdd.getNumPartitions() == 2
    finally:
        lo.unpersist()


def test_spread_fallback_is_logged_not_silent(spark, monkeypatch, caplog):
    """A frame whose plan cannot be inspected comes back unchanged, with
    ONE warning per process (not one per call); any other error raised
    during inspection propagates instead of being swallowed."""
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkNotImplementedError

    from prose_spark.operators import annotate as annotate_mod

    df = spark.createDataFrame([("u", "t")], ["url", "text"])
    cls = type(df)
    for err in (AttributeError("_jdf"), Py4JError("gateway"),
                PySparkNotImplementedError(
                    errorClass="NOT_IMPLEMENTED",
                    messageParameters={"feature": "rdd"})):
        def no_plan(self, err=err):
            raise err

        monkeypatch.setattr(cls, "rdd", property(no_plan))
        monkeypatch.setattr(annotate_mod, "_spread_fallback_logged", False)
        caplog.clear()
        with caplog.at_level("WARNING", logger=annotate_mod.__name__):
            first = annotate_mod.spread_compute_input(df)
            second = annotate_mod.spread_compute_input(df)
        assert first is df and second is df
        warned = [r for r in caplog.records
                  if r.name == annotate_mod.__name__]
        assert len(warned) == 1, warned
        assert "plan not inspectable" in warned[0].getMessage()

    def broken(self):
        raise RuntimeError("not an introspection error")

    monkeypatch.setattr(cls, "rdd", property(broken))
    with pytest.raises(RuntimeError, match="not an introspection error"):
        annotate_mod.spread_compute_input(df)


def test_broadcast_join_for_small_dim(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_whole_stage_codegen_native_stats(spark, docs_path):
    from prose_spark.operators.textstats import add_quality_scores

    pages = spark.read.parquet(docs_path)
    plan = _plan(add_quality_scores(pages.select("url", "text")))
    # all-native: no Python eval nodes anywhere (the lambda-based stopword
    # filter is a JVM higher-order function — outside whole-stage codegen
    # but still columnar/JVM-side)
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_simhash_is_map_only(spark, docs_path):
    from prose_spark.operators.dedup import add_simhash

    pages = spark.read.parquet(docs_path)
    plan = _plan(add_simhash(pages.select("url", "text")))
    # per-row higher-order-function computation: no shuffle, no Python,
    # no generated row id — stays a narrow projection over the scan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "monotonically_increasing_id" not in plan


def test_native_minhash_shuffles_only_on_band_keys(spark, docs_path):
    from prose_spark.operators.dedup import minhash_near_dup_pairs_native

    pages = spark.read.parquet(docs_path)
    docs = pages.select(F.col("url").alias("doc_id"), "text")
    df = minhash_near_dup_pairs_native(docs, "doc_id",
                                       jaccard_max_distance=0.3)
    plan = _plan(df)
    # signature computation is native (no ML fit/UDF); the join keys are
    # (band, bkey) so partition sizes stay bounded at any corpus size
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    tree = plan.split("\n\n")[0]
    n_joins = sum(tree.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    # one band-key self-join over IDS ONLY + two key-attach joins that
    # bring the shingle arrays back for the exact verify: the arrays
    # never ride the 8x band explosion through the shuffle
    assert n_joins == 3, tree
    # the band self-join inputs are id+key projections — the shingle
    # array column g never appears in any node output alongside the
    # band keys (it re-attaches later, keyed by id)
    bkey_outputs = [ln for ln in plan.splitlines()
                    if ln.strip().startswith("Output") and "bkey#" in ln]
    assert bkey_outputs
    assert all("g#" not in ln for ln in bkey_outputs), bkey_outputs


def test_embedding_near_dup_pair_join_is_id_only(spark):
    """The LSH near-dup candidate self-join must carry ids+signature
    keys only — vectors re-attach by key AFTER dedup, so the pair
    explosion never moves embedding payloads through a shuffle."""
    from pyspark.sql import functions as F

    from prose_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = embedding_near_dup_pairs(
        emb.select("vec_id",
                   F.col("embedding").cast("array<double>")
                   .alias("embedding")))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # signature stage is Arrow-vectorized (exactly one Python stage in
    # the checkpointed lineage is not visible here; the main plan must
    # have none — signatures were materialized by localCheckpoint)
    sig_outputs = [ln for ln in plan.splitlines()
                   if ln.strip().startswith("Output") and "sig#" in ln]
    assert sig_outputs
    # no vector column next to the signature keys anywhere in the plan
    assert all("v#" not in ln for ln in sig_outputs), sig_outputs


def test_sentiment_udf_single_python_stage(spark, docs_path):
    from prose_spark.operators.sentiment_ops import add_sentiment

    pages = spark.read.parquet(docs_path)
    plan = _plan(add_sentiment(pages.select("url", "text"), use_ml=True))
    tree = plan.split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 1  # one vectorized stage
    assert "Exchange" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path_factory):
    """Co-located joins via bucketing: two tables bucketed+sorted on the
    join key join with NO Exchange — the 100 TB pattern for repeated
    joins on the same key (bucket once at ingest, join shuffle-free
    forever)."""
    import uuid

    # warehouse.dir is a static conf; managed tables land in the session
    # default warehouse and are dropped (with files) in the finally
    suffix = uuid.uuid4().hex[:8]
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    t_o, t_c = f"orders_b_{suffix}", f"cust_b_{suffix}"
    try:
        (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
         .mode("overwrite").saveAsTable(t_o))
        (cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
         .mode("overwrite").saveAsTable(t_c))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(t_o).join(
            spark.table(t_c),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # bucket-pruned: no shuffle
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


def test_linguistic_gate_all_jvm(spark):
    """The run_kg_job --min-stopword-ratio pre-gate (keyword-soup /
    boilerplate hygiene): real prose passes, stopword-free soup drops,
    and the gate runs entirely JVM-side (no Python stage in the plan)
    so at crawl scale it costs one scan and saves the whole annotate
    stage per dropped page."""
    from prose_spark.operators.textstats import add_quality_scores

    df = spark.createDataFrame(
        [
            ("p1", "The quick brown fox jumped over the lazy dog and "
                   "it was glad of the exercise."),
            ("p2", "batch window spark order data column agg join "
                   "small line customer query line value"),
        ],
        "url string, text string",
    )
    gated = (add_quality_scores(df, "text")
             .filter(F.col("stopword_ratio") >= 0.2)
             .drop("n_tokens", "n_chars_obs", "avg_word_len",
                   "punct_ratio", "stopword_ratio"))
    rows = gated.collect()
    assert [r.url for r in rows] == ["p1"]
    assert gated.columns == ["url", "text"]
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEvalPython" not in plan
