from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
from cdrc_semantic_search_spark.streaming import incremental


@pytest.fixture(scope="module")
def transcript_dir(spark, spark_fixture, tmp_path_factory):
    tdf, _ = spark_fixture
    d = str(tmp_path_factory.mktemp("transcripts"))
    # several files so maxFilesPerTrigger yields multiple micro-batches
    tdf.repartition(8).write.mode("overwrite").parquet(d)
    return d


def test_stream_triples_matches_batch(spark, fixture, spark_fixture, transcript_dir, tmp_path):
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "cat"))
    incremental.stream_triples(
        spark, pipe, transcript_dir, cat, checkpoint_dir=str(tmp_path / "ckpt")
    )
    ledger = cat.ledger("stream_triples")
    assert len(ledger) >= 2, "expected multiple micro-batches"
    # each batch's observed input turn count; together they cover the input
    assert sum(rec.metrics["turn_count"] for rec in ledger) == tdf.count()
    streamed = cat.read_committed(spark, "stream_triples")
    batch = pipe.triples(tdf)
    key = ["conv_id", "turn_idx", "subj_entity_id", "pred", "obj_entity_id"]
    got = {tuple(r) for r in streamed.select(*key).collect()}
    want = {tuple(r) for r in batch.select(*key).collect()}
    assert got == want
    # restart with same checkpoint: no new batches, no duplicates
    n_before = streamed.count()
    incremental.stream_triples(
        spark, pipe, transcript_dir, cat, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert cat.read_committed(spark, "stream_triples").count() == n_before


def test_stream_of_empty_file_commits_empty_partitions(spark, fixture, spark_fixture, tmp_path):
    """A new file with 0 rows still makes a micro-batch. No count() probe
    guards it, so the batch commits zero-row partitions (turn_count 0) to
    the triples and every delta table, and the compacted graph has no
    edge and no mention."""
    tdf, _ = spark_fixture
    src = str(tmp_path / "empty_src")
    tdf.limit(0).coalesce(1).write.parquet(src)
    assert any(f.endswith(".parquet") for f in os.listdir(src))
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "empty_cat"))
    incremental.stream_triples(
        spark, pipe, src, cat, str(tmp_path / "empty_ckpt"), with_graph=True
    )
    (rec,) = cat.ledger("stream_triples")
    assert (rec.row_count, rec.metrics["turn_count"]) == (0, 0)
    for t in ("edge_deltas", "node_deltas", "surface_deltas"):
        assert cat.committed_partitions(t) == {rec.partition}
    assert cat.read_committed(spark, "stream_triples").count() == 0
    assert KGPipeline.compacted_edges(spark, cat).count() == 0
    assert pipe.compacted_nodes(cat).filter("n_mentions > 0").count() == 0


def test_streamed_graph_deltas_equal_batch_rebuild(
    spark, fixture, spark_fixture, transcript_dir, tmp_path
):
    """with_graph=True: per-micro-batch edge/node delta commits, compacted
    merge-on-read, must equal the one-shot batch graph — the merge algebra
    makes the result independent of micro-batch boundaries."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "catg"))
    incremental.stream_triples(
        spark, pipe, transcript_dir, cat,
        checkpoint_dir=str(tmp_path / "ckptg"), with_graph=True,
    )
    assert len(cat.ledger("edge_deltas")) >= 2  # multiple micro-batches

    edges = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in KGPipeline.compacted_edges(spark, cat).collect()
    }
    want = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in pipe.kg_edges(pipe.triples(tdf)).collect()
    }
    assert edges == want

    nodes = {
        r.entity_id: r.n_mentions
        for r in pipe.compacted_nodes(cat).collect()
    }
    want_nodes = {
        r.entity_id: r.n_mentions
        for r in pipe.kg_nodes(pipe.mentions(tdf)).collect()
    }
    assert nodes == want_nodes

    clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.compacted_surface_clusters(cat).collect()
    }
    want_clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.surface_clusters(pipe.mentions(tdf)).collect()
    }
    assert clusters == want_clusters


def test_streamed_generational_compaction(spark, fixture, spark_fixture, tmp_path):
    """Two ingest waves with a compaction between them: wave-1 deltas fold
    into base tables and retire; wave-2 micro-batches open the next delta
    generation; merge-on-read over base ⊕ new deltas equals the one-shot
    batch rebuild over ALL turns."""
    tdf, _ = spark_fixture
    convs = sorted(r.conv_id for r in tdf.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    wave1 = tdf.filter(F.col("conv_id") < cut)
    wave2 = tdf.filter(F.col("conv_id") >= cut)

    src = str(tmp_path / "gen_src")
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "gen_cat"))
    ckpt = str(tmp_path / "gen_ckpt")

    wave1.repartition(4).write.mode("append").parquet(src)
    incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)
    gen1 = set(cat.committed_partitions("edge_deltas"))
    assert gen1

    pipe.compact_graph(cat)
    assert cat.committed_partitions("edge_deltas") == set()
    assert cat.retired_partitions("edge_deltas") == gen1

    wave2.repartition(4).write.mode("append").parquet(src)
    # the retired-generation check must not trip on folded batches
    incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)
    assert cat.committed_partitions("edge_deltas")  # generation 2 is live

    edges = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in KGPipeline.compacted_edges(spark, cat).collect()
    }
    want = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in pipe.kg_edges(pipe.triples(tdf)).collect()
    }
    assert edges == want

    nodes = {r.entity_id: r.n_mentions for r in pipe.compacted_nodes(cat).collect()}
    want_nodes = {
        r.entity_id: r.n_mentions for r in pipe.kg_nodes(pipe.mentions(tdf)).collect()
    }
    assert nodes == want_nodes

    clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.compacted_surface_clusters(cat).collect()
    }
    want_clusters = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.surface_clusters(pipe.mentions(tdf)).collect()
    }
    assert clusters == want_clusters


def test_compaction_canon_param_mismatch_falls_back_to_full(
    spark, fixture, spark_fixture, tmp_path
):
    """The incremental surface-clustering patch is exact only under the
    base generation's clustering parameters (ADVICE r4): compaction
    stamps a fingerprint next to the base, and a later reader with
    DIFFERENT canon settings falls back to the full re-cluster — whose
    output equals a from-scratch clustering under the new settings —
    instead of silently diverging."""
    import dataclasses
    import json
    import os

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "fp_cat"))
    src = str(tmp_path / "fp_src")
    ckpt = str(tmp_path / "fp_ckpt")
    tdf.repartition(4).write.mode("append").parquet(src)
    incremental.stream_triples(spark, pipe, src, cat, ckpt, with_graph=True)
    pipe.compact_graph(cat)

    # the fingerprint landed and matches the compactor's settings
    params_path = KGPipeline._canon_params_path(cat)
    assert os.path.exists(params_path)
    with open(params_path) as f:
        assert json.load(f) == pipe._canon_fingerprint()

    # a reader with different banding must NOT take the incremental path
    s2 = Settings()
    s2 = dataclasses.replace(
        s2, pipeline=dataclasses.replace(s2.pipeline, canon_n_bands=8)
    )
    pipe2 = KGPipeline(spark, fixture.entities, s2)
    assert pipe2._canon_fingerprint() != pipe._canon_fingerprint()
    got = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe2.compacted_surface_clusters(cat).collect()
    }
    want = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe2.surface_clusters(pipe2.mentions(tdf)).collect()
    }
    assert got == want

    # matching settings still take the incremental path unperturbed
    same = {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.compacted_surface_clusters(cat).collect()
    }
    assert same == {
        r.surface: (r.canonical_surface, r.entity_id)
        for r in pipe.surface_clusters(pipe.mentions(tdf)).collect()
    }


def test_stream_stream_join_bounded_state(spark, spark_fixture, transcript_dir, tmp_path):
    """Turns join their conversation's registration event within the lag
    bound; a registration far in the past joins nothing (the event-time
    range predicate, not just the key match, gates the join)."""
    tdf, _ = spark_fixture
    stale_conv = tdf.select("conv_id").first()["conv_id"]
    meta = (
        tdf.groupBy("conv_id")
        .agg(F.min("ts").alias("m_ts"))
        # one conversation registered 90 days before its turns: outside
        # max_lag, so its turns must NOT join
        .withColumn(
            "m_ts",
            F.when(
                F.col("conv_id") == stale_conv,
                F.col("m_ts") - F.expr("INTERVAL 90 DAYS"),
            ).otherwise(F.col("m_ts")),
        )
        .withColumn("channel", F.concat(F.lit("ch_"), F.col("conv_id")))
        .select(F.col("conv_id").alias("m_conv_id"), "m_ts", "channel")
    )
    meta_dir = str(tmp_path / "meta")
    meta.coalesce(1).write.mode("overwrite").parquet(meta_dir)
    turn_stream = incremental.transcript_stream(spark, transcript_dir)
    meta_stream = spark.readStream.schema(
        "m_conv_id string, m_ts timestamp, channel string"
    ).parquet(meta_dir)
    joined = incremental.stream_join_turns_metadata(
        turn_stream, meta_stream, watermark="1 hour", max_lag="30 days"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from ss_join")
    n_turns = tdf.count()
    n_stale = tdf.filter(F.col("conv_id") == stale_conv).count()
    assert n_stale > 0
    # every in-window turn joined; the back-dated conversation joined NOTHING
    assert got.count() == n_turns - n_stale
    assert got.filter(F.col("conv_id") == stale_conv).count() == 0
    assert got.filter(F.col("channel") != F.concat(F.lit("ch_"), F.col("conv_id"))).count() == 0


def test_stream_dedup_exact_keeps_one_per_fingerprint(spark, tmp_path):
    """Duplicated texts (whitespace-variant) collapse to one row per
    fingerprint within the watermark; distinct texts all survive."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, "alpha beta gamma", base),
        (2, "alpha  beta\tgamma", base + dt.timedelta(minutes=1)),  # ws-dup of 1
        (3, "delta epsilon", base + dt.timedelta(minutes=2)),
        (4, "alpha beta gamma", base + dt.timedelta(minutes=3)),  # exact dup of 1
        (5, "zeta eta", base + dt.timedelta(minutes=4)),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, ts timestamp").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(src)
    )
    deduped = incremental.stream_dedup_exact(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from dedup_stream").collect()
    texts = sorted(r.doc_id for r in got)
    # one survivor per fingerprint: {1,2,4} collapse to one row; 3 and 5 kept
    assert len(got) == 3
    assert 3 in texts and 5 in texts
    assert len({1, 2, 4} & set(texts)) == 1


def test_session_window_streaming_matches_batch(spark, spark_fixture, transcript_dir, tmp_path):
    """F.session_window under readStream + watermark: sessions sealed by
    the watermark match the batch session_window aggregation exactly."""
    stream = incremental.transcript_stream(spark, transcript_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("conv_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            "n_turns",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from sess_stream")
    batch = (
        spark.read.parquet(transcript_dir)
        .groupBy("conv_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            "n_turns",
        )
    )
    got_set = {tuple(r) for r in got.collect()}
    want_set = {tuple(r) for r in batch.collect()}
    # append mode emits only watermark-sealed sessions — a subset of batch,
    # but every emitted session must match the batch result exactly
    assert got_set and got_set <= want_set


def test_windowed_counts_with_watermark(spark, spark_fixture, transcript_dir, tmp_path):
    stream = incremental.transcript_stream(spark, transcript_dir)
    agg = incremental.windowed_turn_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from win_counts")
    # append mode emits only windows sealed by the watermark; compare those
    batch = spark.read.parquet(transcript_dir)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("win"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("win.start").alias("window_start"), "role", "n_turns")
        .filter(F.col("win.end") < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
    )
    got_set = {
        (r["window_start"], r["role"], r["n_turns"])
        for r in got.join(
            want.select(F.col("window_start").alias("ws")).distinct(),
            got["window_start"] == F.col("ws"),
            "left_semi",
        ).collect()
    }
    want_set = {(r["window_start"], r["role"], r["n_turns"]) for r in want.collect()}
    assert want_set and want_set <= got_set


def test_windowed_agg_join_stream_append_mode(spark, spark_fixture, transcript_dir, tmp_path):
    """Chained stateful operators: windowed aggregation stream-stream
    JOINED back to the raw stream under one watermark, append mode —
    every emitted (turn, window count) row must match the batch twin."""
    stream = incremental.transcript_stream(spark, transcript_dir)
    joined = incremental.enrich_turns_with_window_rate(
        stream, window="1 hour", watermark="2 hours"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("win_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from win_join")
    batch = spark.read.parquet(transcript_dir)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    win = F.window("ts", "1 hour")
    counts = batch.groupBy(win.alias("win"), "role").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns_in_window")
    )
    want = (
        batch.select("conv_id", "turn_idx", "role", win.alias("win"))
        .join(counts, ["win", "role"])
        # only windows the watermark could have sealed are comparable
        .filter(F.col("win.end") < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
        .select(
            "conv_id", "turn_idx", "role",
            F.col("win.start").alias("window_start"), "n_turns_in_window",
        )
    )
    want_set = {tuple(r) for r in want.collect()}
    got_set = {tuple(r) for r in got.collect()}
    # every sealed batch row must have been emitted...
    assert want_set and want_set <= got_set
    # ...and for sealed windows the stream emitted EXACTLY the batch rows
    sealed_starts = {r[3] for r in want_set}
    assert {r for r in got_set if r[3] in sealed_starts} == want_set


def test_stream_pq_upsert_equals_batch_rebuild(spark, tmp_path):
    """Two streamed embedding waves over a batch-built base: the
    merge-on-read compacted codes equal a one-shot encode of the final
    vector state (stream upserts replace the base's stale codes), and a
    second identical run is an idempotent no-op."""
    import numpy as np
    import pandas as pd

    from cdrc_semantic_search_spark.operators.similarity import (
        materialize_pq_index,
        pq_encode,
        train_pq_codebooks,
    )
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
    from cdrc_semantic_search_spark.streaming.incremental import (
        compacted_pq_codes,
        stream_pq_upsert,
    )

    rng = np.random.default_rng(17)
    base_pts = rng.standard_normal((30, 16)).astype(np.float32)
    books = train_pq_codebooks(base_pts, m=4, k=8, seed=5)
    base = spark.createDataFrame(
        pd.DataFrame(
            {"c_id": range(30), "c_vec": [list(map(float, v)) for v in base_pts]}
        )
    )
    catalog = ParquetTableCatalog(str(tmp_path / "cat"))
    materialize_pq_index(spark, catalog, base, books)

    # wave 1: new ids 30..39; wave 2: REPLACES ids 0..4 with new vectors
    w1 = rng.standard_normal((10, 16)).astype(np.float32)
    w2 = rng.standard_normal((5, 16)).astype(np.float32)
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    pd.DataFrame(
        {"vec_id": range(30, 40), "embedding": [list(map(float, v)) for v in w1]}
    ).to_parquet(stream_dir / "wave1.parquet")
    stream_pq_upsert(
        spark, str(stream_dir), catalog, str(tmp_path / "ckpt")
    )
    pd.DataFrame(
        {"vec_id": range(5), "embedding": [list(map(float, v)) for v in w2]}
    ).to_parquet(stream_dir / "wave2.parquet")
    stream_pq_upsert(
        spark, str(stream_dir), catalog, str(tmp_path / "ckpt")
    )

    final_vecs = np.vstack([w2, base_pts[5:], w1])
    final_ids = list(range(5)) + list(range(5, 30)) + list(range(30, 40))
    final = spark.createDataFrame(
        pd.DataFrame(
            {"c_id": final_ids, "c_vec": [list(map(float, v)) for v in final_vecs]}
        )
    )
    want = pq_encode(spark, final, "c_id", "c_vec", books).toPandas()
    got = compacted_pq_codes(spark, catalog).toPandas()
    key = lambda d: sorted((r.c_id, tuple(r.codes)) for r in d.itertuples())
    assert key(got) == key(want)

    # idempotent redelivery: nothing new to process
    stream_pq_upsert(spark, str(stream_dir), catalog, str(tmp_path / "ckpt"))
    again = compacted_pq_codes(spark, catalog).toPandas()
    assert key(again) == key(want)


def test_pq_rebuild_retires_stale_code_deltas(spark, tmp_path):
    """An index rebuild (new codebooks) must retire the streamed delta
    generation: old deltas were encoded under the previous codebooks and
    would otherwise override the fresh base on merge-on-read. Also:
    compacted view works for a purely batch-built index (no deltas)."""
    import numpy as np
    import pandas as pd

    from cdrc_semantic_search_spark.operators.similarity import (
        materialize_pq_index,
        pq_encode,
        train_pq_codebooks,
    )
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
    from cdrc_semantic_search_spark.streaming.incremental import (
        compacted_pq_codes,
        stream_pq_upsert,
    )

    rng = np.random.default_rng(19)
    pts = rng.standard_normal((20, 16)).astype(np.float32)
    books1 = train_pq_codebooks(pts, m=4, k=8, seed=1)
    c = spark.createDataFrame(
        pd.DataFrame({"c_id": range(20), "c_vec": [list(map(float, v)) for v in pts]})
    )
    catalog = ParquetTableCatalog(str(tmp_path / "cat"))
    materialize_pq_index(spark, catalog, c, books1)

    # batch-only index: compacted view = the base, no FileNotFoundError
    base_only = compacted_pq_codes(spark, catalog).toPandas()
    assert len(base_only) == 20

    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    pd.DataFrame(
        {"vec_id": [0], "embedding": [list(map(float, -pts[0]))]}
    ).to_parquet(stream_dir / "w.parquet")
    stream_pq_upsert(spark, str(stream_dir), catalog, str(tmp_path / "ck"))
    assert catalog.committed_partitions("pq_index_code_deltas")

    # rebuild under DIFFERENT codebooks: deltas must vanish
    books2 = train_pq_codebooks(pts, m=4, k=8, seed=2)
    materialize_pq_index(spark, catalog, c, books2)
    got = compacted_pq_codes(spark, catalog).toPandas()
    want = pq_encode(spark, c, "c_id", "c_vec", books2).toPandas()
    key = lambda d: sorted((r.c_id, tuple(r.codes)) for r in d.itertuples())
    assert key(got) == key(want)  # no stale-delta override


def test_batch_upsert_folds_streamed_deltas(spark, tmp_path):
    """Batch/stream index-maintenance coherence under one prefix:
    (a) after a stream ran, topk_pq_adc_index reads the merge-on-read
    view (streamed updates visible to queries);
    (b) a batch upsert_pq_index FOLDS the committed code-deltas into the
    new base and retires the delta generation — without the fold the
    stale delta for an id the batch just updated would shadow it;
    (c) duplicate ids within one micro-batch resolve to a deterministic
    winner (lexicographically smallest codes)."""
    import numpy as np
    import pandas as pd

    from cdrc_semantic_search_spark.operators.similarity import (
        materialize_pq_index,
        pq_encode,
        topk_pq_adc,
        topk_pq_adc_index,
        train_pq_codebooks,
        upsert_pq_index,
    )
    from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
    from cdrc_semantic_search_spark.streaming.incremental import (
        compacted_pq_codes,
        stream_pq_upsert,
    )

    rng = np.random.default_rng(23)
    pts = rng.standard_normal((20, 16)).astype(np.float32)
    books = train_pq_codebooks(pts, m=4, k=8, seed=3)
    mk = lambda ids, vecs: spark.createDataFrame(
        pd.DataFrame({"c_id": ids, "c_vec": [list(map(float, v)) for v in vecs]})
    )
    catalog = ParquetTableCatalog(str(tmp_path / "cat"))
    materialize_pq_index(spark, catalog, mk(range(20), pts), books)

    # stream: replace id 0, add id 20 TWICE in one batch (dup in-batch)
    v0_new = rng.standard_normal(16).astype(np.float32)
    v20_a = rng.standard_normal(16).astype(np.float32)
    v20_b = rng.standard_normal(16).astype(np.float32)
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    pd.DataFrame(
        {
            "vec_id": [0, 20, 20],
            "embedding": [list(map(float, v)) for v in (v0_new, v20_a, v20_b)],
        }
    ).to_parquet(stream_dir / "w.parquet")
    stream_pq_upsert(spark, str(stream_dir), catalog, str(tmp_path / "ck"))

    # (c) deterministic in-batch winner: smallest codes tuple
    cand = pq_encode(spark, mk([20, 20], [v20_a, v20_b]), "c_id", "c_vec", books)
    win20 = min(tuple(r.codes) for r in cand.collect())
    delta = catalog.read_committed(spark, "pq_index_code_deltas").toPandas()
    assert sorted(delta.c_id) == [0, 20]
    assert tuple(delta[delta.c_id == 20].codes.iloc[0]) == win20
    v20 = v20_a if tuple(
        pq_encode(spark, mk([20], [v20_a]), "c_id", "c_vec", books)
        .collect()[0].codes
    ) == win20 else v20_b

    # (a) the index query path sees the streamed state
    after_stream = np.vstack([v0_new, pts[1:], v20])
    ids_after = list(range(21))
    q = mk([100], [rng.standard_normal(16).astype(np.float32)]).selectExpr(
        "c_id as q_id", "c_vec as q_vec"
    )
    want = topk_pq_adc(
        spark, q, mk(ids_after, after_stream), books, k=5
    ).toPandas()
    got = topk_pq_adc_index(spark, q, catalog, k=5).toPandas()
    pair = lambda d: [tuple(r) for r in d.sort_values("rank")[["c_id", "rank"]].itertuples(index=False)]
    assert pair(got) == pair(want)

    # (b) batch upsert replaces id 0 AGAIN and adds id 21: deltas fold
    v0_batch = rng.standard_normal(16).astype(np.float32)
    v21 = rng.standard_normal(16).astype(np.float32)
    upsert_pq_index(spark, catalog, mk([0, 21], [v0_batch, v21]))
    assert not catalog.committed_partitions("pq_index_code_deltas")
    assert catalog.retired_partitions("pq_index_code_deltas")
    final = np.vstack([v0_batch, pts[1:], v20, v21])
    want_codes = pq_encode(
        spark, mk(range(22), final), "c_id", "c_vec", books
    ).toPandas()
    got_codes = compacted_pq_codes(spark, catalog).toPandas()
    key = lambda d: sorted((r.c_id, tuple(r.codes)) for r in d.itertuples())
    assert key(got_codes) == key(want_codes)
    # and the index query path agrees with the raw-corpus scan
    want2 = topk_pq_adc(spark, q, mk(range(22), final), books, k=5).toPandas()
    got2 = topk_pq_adc_index(spark, q, catalog, k=5).toPandas()
    assert pair(got2) == pair(want2)


def test_streamed_daily_counts_equal_batch_bursts(spark, tmp_path):
    """Streamed per-batch (key, day) count deltas, SUM-merged on read,
    must reproduce the batch burst_detection output exactly — including
    keys/days split across micro-batches. Restarting on the same
    checkpoint adds nothing."""
    import datetime

    from cdrc_semantic_search_spark.operators.temporal import (
        burst_detection,
        burst_flags,
    )

    rows = []
    per_day = {1: 2, 2: 2, 3: 2, 4: 9, 5: 3, 6: 1, 7: 30}
    for d, n in per_day.items():
        for i in range(n):
            rows.append(("click", datetime.datetime(2024, 1, d, 8, i % 60)))
            if i % 2 == 0:
                rows.append(("view", datetime.datetime(2024, 1, d, 9, i % 60)))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    src = str(tmp_path / "ev_src")
    # several files so maxFilesPerTrigger-less availableNow still splits
    # day/key groups across micro-batch boundaries
    ev.repartition(6).write.mode("overwrite").parquet(src)

    cat = ParquetTableCatalog(str(tmp_path / "ev_cat"))
    incremental.stream_daily_counts(
        spark, src, cat, checkpoint_dir=str(tmp_path / "ev_ckpt"),
        key_col="event_type",
        source_schema="event_type string, ts timestamp",
    )
    assert len(cat.ledger("daily_count_deltas")) >= 2, "want multiple batches"
    merged = incremental.compacted_daily_counts(spark, cat)
    streamed = {
        tuple(r) for r in burst_flags(merged).collect()
    }
    batch = {
        tuple(r) for r in burst_detection(ev, "event_type").collect()
    }
    assert streamed == batch
    n_parts = len(cat.ledger("daily_count_deltas"))
    incremental.stream_daily_counts(
        spark, src, cat, checkpoint_dir=str(tmp_path / "ev_ckpt"),
        key_col="event_type",
        source_schema="event_type string, ts timestamp",
    )
    assert len(cat.ledger("daily_count_deltas")) == n_parts
    assert {tuple(r) for r in burst_flags(
        incremental.compacted_daily_counts(spark, cat)
    ).collect()} == batch
