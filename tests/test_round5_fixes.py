"""Round-5 advisory fixes (VERDICT.md round-4 items 4/8 + ADVICE.md):

- link_prediction_ranks dedupes its input (duplicate triples no
  longer double-discount the filtered rank) and raises on entities
  missing from a supplied embedding table;
- stream_interval_join state stays BOUNDED across micro-batches under
  a finite watermark (the 100 TB run-forever contract): state rows
  reported by the final StateStore progress must be far below the
  total rows fed through the join.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from renard_spark.functions.kgembed import link_prediction_ranks
from renard_spark.streaming.events import stream_interval_join


def test_link_prediction_ranks_duplicate_input_is_deduped(spark):
    triples = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c")],
        "subj string, pred string, obj string",
    )
    base = {
        (r.subj, r.pred, r.obj, r.rank, r.filtered_rank, r.n_cands)
        for r in link_prediction_ranks(triples).collect()
    }
    dup = triples.unionByName(
        spark.createDataFrame(
            [("a", "p", "b")], "subj string, pred string, obj string"
        )
    )
    got = {
        (r.subj, r.pred, r.obj, r.rank, r.filtered_rank, r.n_cands)
        for r in link_prediction_ranks(dup).collect()
    }
    # without the distinct, the duplicated triple yields TWO rows with
    # filtered_rank k and k+1 for the same (subj, pred, obj)
    assert got == base
    assert len(got) == 3


def test_link_prediction_ranks_missing_embedding_raises(spark):
    triples = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "ghost")],
        "subj string, pred string, obj string",
    )
    ee = spark.createDataFrame(
        [("a", [0.1, 0.2]), ("b", [0.3, 0.1])],
        "name string, vec array<double>",
    )
    re_ = spark.createDataFrame(
        [("p", [0.05, -0.1])], "name string, vec array<double>"
    )
    with pytest.raises(ValueError, match="ghost"):
        link_prediction_ranks(
            triples, entity_embeddings=ee, relation_embeddings=re_
        )


def test_stream_interval_join_state_bounded(spark, tmp_path):
    """Feed 8 micro-batches whose event time advances 1 day per batch
    through a 10-minute-watermark interval join: the symmetric hash
    join must EVICT aged state, so the final reported state rows stay
    a small multiple of one batch, not the whole history."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    n_batches, rows_per_side = 8, 40
    schema = "user_id string, event_id long, kind string, ts timestamp"
    for b in range(n_batches):
        day = base + dt.timedelta(days=b)
        rows = []
        for i in range(rows_per_side):
            t = day + dt.timedelta(seconds=30 * i)
            rows.append((f"u{i % 4}", b * 1000 + i, "view", t))
            rows.append(
                (f"u{i % 4}", b * 1000 + 500 + i, "click",
                 t + dt.timedelta(seconds=45))
            )
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(in_dir, f"b{b}"), mode="overwrite"
        )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/b*")
    )
    views = src.filter(F.col("kind") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = src.filter(F.col("kind") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = stream_interval_join(
        views, clicks, "user_id", "view_ts", "click_ts",
        bound="2 minutes", watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    progresses = [p for p in q.recentProgress if p.get("stateOperators")]
    assert progresses, "no stateOperator progress recorded"
    final_state_rows = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    total_fed = n_batches * rows_per_side * 2
    # without eviction state would hold ~total_fed rows; with the
    # 10-minute watermark only the newest batch's window survives
    assert final_state_rows <= 3 * rows_per_side * 2, (
        final_state_rows,
        total_fed,
    )
    # and the join still matched within batches
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() >= n_batches * rows_per_side


def test_service_solutions_silent_and_strict(spark):
    from renard_spark.functions.kgquery import bgp_match, service_solutions

    corpus = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "reads", "c")],
        "subj string, pred string, obj string",
    )
    schema = spark.createDataFrame(
        [("knows", "subPropertyOf", "interacts")],
        "subj string, pred string, obj string",
    )
    outer = bgp_match(corpus, [("?x", "?r", "?y")])
    out = service_solutions(
        outer, {"schema": schema}, "schema",
        [("?r", "subPropertyOf", "?sup")],
    )
    rows = {(r.x, r.r, r.y, r.sup) for r in out.collect()}
    assert rows == {("a", "knows", "b", "interacts")}
    # unknown endpoint: strict raises, SILENT passes outer through
    with pytest.raises(KeyError):
        service_solutions(
            outer, {"schema": schema}, "nope",
            [("?r", "subPropertyOf", "?sup")],
        )
    silent = service_solutions(
        outer, {"schema": schema}, "nope",
        [("?r", "subPropertyOf", "?sup")], silent=True,
    )
    assert silent.columns == outer.columns
    assert silent.count() == outer.count()
    # uncorrelated service pattern rejected like any cartesian product
    with pytest.raises(ValueError):
        service_solutions(
            outer, {"schema": schema}, "schema",
            [("?q", "subPropertyOf", "?sup")],
        )


def test_link_prediction_ranks_ann_contract(spark):
    """ANN ranks agree with the exact protocol on retrieved triples'
    top candidates and never hallucinate: every retrieved ann_rank is
    <= the exact raw rank (candidate subset can only shrink ranks),
    and every exact rank-1 triple is retrieved at ann_rank 1 when its
    band matches itself (q≈t for rank-1 pairs is not guaranteed, so
    assert subset-monotonicity + recall bounds instead)."""
    from renard_spark.functions.kgembed import (
        link_prediction_ranks,
        link_prediction_ranks_ann,
    )

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "c"), ("b", "q", "c"),
         ("c", "p", "a"), ("b", "p", "a")],
        "subj string, pred string, obj string",
    )
    exact = {
        (r.subj, r.pred, r.obj): r.rank
        for r in link_prediction_ranks(triples).collect()
    }
    ann = link_prediction_ranks_ann(triples, band_bits=2).collect()
    assert len(ann) == len(exact)
    for r in ann:
        key = (r.subj, r.pred, r.obj)
        if r.retrieved:
            # ranking over a subset of the vocabulary can only move a
            # candidate UP
            assert r.ann_rank <= exact[key]
            assert r.n_cands_ann >= 1
        else:
            assert r.ann_rank is None
    # band_bits=1 (1-bit bands) must retrieve at least as much as
    # band_bits=2 for every triple (coarser bands collide more)
    ann1 = {
        (r.subj, r.pred, r.obj): r.retrieved
        for r in link_prediction_ranks_ann(triples, band_bits=1).collect()
    }
    for r in ann:
        if r.retrieved:
            assert ann1[(r.subj, r.pred, r.obj)]
