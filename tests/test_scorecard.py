"""Per-document scorecard plan (plans/scorecard.py) + classify CLI."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from gleaner_spark.plans.scorecard import build_scorecard


def _docs(spark):
    return spark.createDataFrame(
        [("s0", "d1", "the quick brown fox jumps over the lazy dog"),
         ("s0", "d2", "zz@@ ### !!! @@@ ^^^ &&& symbols only here"),
         ("s1", "d3", "alpha beta alpha beta alpha beta alpha beta")],
        "source_name string, unique_id string, jsonld string",
    )


class TestBuildScorecard:
    def test_one_row_per_doc_with_every_signal(self, spark):
        out = build_scorecard(_docs(spark))
        rows = {r["doc_id"]: r for r in out.collect()}
        assert len(rows) == 3
        for need in ("q_score", "predicted_lang", "n_tokens",
                     "n_bpe_tokens", "top_token_count", "uniq_3grams",
                     "avg_nll", "nb_score"):
            assert need in out.columns, need
        d1 = rows["s0\x1fd1"]
        d2 = rows["s0\x1fd2"]
        # prose reads en, scores better than symbol soup on quality
        # and on the bpe/ws ratio (symbols explode under the
        # pre-tokenizer)
        assert d1["predicted_lang"] == "en"
        assert d1["q_score"] > d2["q_score"]
        assert (d2["n_bpe_tokens"] / d2["n_tokens"]) > (
            d1["n_bpe_tokens"] / d1["n_tokens"])
        # repeated-phrase doc: top token is half its tokens
        d3 = rows["s1\x1fd3"]
        assert d3["top_token_count"] == 4 and d3["n_tokens"] == 8
        # without a seed the nb column exists but is NULL
        assert all(r["nb_score"] is None for r in rows.values())

    def test_nb_seed_scores_and_reshard_invariance(self, spark):
        seed = spark.createDataFrame(
            [("the quick brown fox jumps high",)], "text string"
        )
        a = build_scorecard(_docs(spark), nb_seed_docs=seed)
        rows = {r["doc_id"]: r for r in a.collect()}
        assert rows["s0\x1fd1"]["nb_score"] is not None
        # seed-like prose outscores symbol soup
        assert rows["s0\x1fd1"]["nb_score"] > rows["s0\x1fd2"]["nb_score"]
        b = {
            r["doc_id"]: r
            for r in build_scorecard(
                _docs(spark).repartition(7), nb_seed_docs=seed
            ).collect()
        }
        assert {k: tuple(v) for k, v in rows.items()} == {
            k: tuple(v) for k, v in b.items()
        }


def test_cli_classify_over_harvested_lake(spark, tmp_lake, tmp_path, capsys):
    """classify appends a doc_scores snapshot over a harvested lake;
    a second run with --out writes plain parquet instead. Thresholds
    derived from the snapshot match a direct filter of the corpus
    gate's quality operator."""
    from gleaner_spark.__main__ import main
    from gleaner_spark.plans.lake import Lake
    from tests.test_cli import _write_fixtures

    fx = _write_fixtures(spark, str(tmp_path), n=120)
    assert main([
        "--cfg", fx["cfg"], "--pages", fx["pages"], "--seeds", fx["seeds"],
        "--lake", tmp_lake, "--setup", "--run-id", "sc-h",
    ]) == 0
    capsys.readouterr()
    assert main(["classify", "--lake", tmp_lake, "--run-id", "sc-1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lake = Lake(tmp_lake)
    n_docs = lake.table("documents").read(spark).count()
    assert out["documents"] == n_docs
    assert out["mean_q_score"] > 0 and out["mean_nb_score"] is None
    scores = lake.table("doc_scores").read(spark)
    assert scores.count() == n_docs
    assert scores.filter(F.col("q_score").isNull()).count() == 0
    # --out variant writes parquet without touching the lake
    out_dir = str(tmp_path / "scores")
    assert main(["classify", "--lake", tmp_lake, "--out", out_dir]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["documents"] == n_docs and out2["out"] == out_dir
    assert spark.read.parquet(out_dir).count() == n_docs
    assert lake.table("doc_scores").read(spark).count() == n_docs


def test_streaming_index_maintenance_feeds_recrawl(spark, tmp_lake, tmp_path, capsys):
    """maintain_index=True: each micro-batch appends its per-capture
    SURT index rows to the lake's url_index table (whole drop, junk
    URLs as the NULL-key group), and `recrawl --lake` schedules
    straight off it — the continuous crawl -> index -> schedule loop."""
    import tempfile

    from gleaner_spark.__main__ import main
    from gleaner_spark.plans.lake import Lake
    from gleaner_spark.sources import corpus
    from gleaner_spark.streaming.incremental import incremental_harvest

    stream_dir = tempfile.mkdtemp(prefix="gleaner-idxstream-")
    ckpt = tempfile.mkdtemp(prefix="gleaner-idxstream-ckpt-")
    corpus.build_pages(spark, 30, partitions=2).write.mode("append") \
        .parquet(stream_dir)
    lake = Lake(tmp_lake)
    q = incremental_harvest(
        spark, lake, corpus.build_sources(), stream_dir, ckpt,
        maintain_index=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    idx = lake.table("url_index").read(spark)
    assert idx is not None and idx.count() == 30
    assert set(idx.columns) == {"surt_key", "ts", "url", "digest"}
    assert idx.filter(idx["digest"].isNull()).count() == 0
    # second drop appends (the stream's history accumulates captures)
    corpus.build_pages(spark, 30, partitions=2).write.mode("append") \
        .parquet(stream_dir)
    q2 = incremental_harvest(
        spark, lake, corpus.build_sources(), stream_dir, ckpt,
        maintain_index=True,
    )
    q2.awaitTermination(120)
    assert lake.table("url_index").read(spark).count() == 60

    # the loop: schedule straight off the lake's index
    import json as _json
    assert main(["recrawl", "--lake", tmp_lake, "--now", "2000000000",
                 "--budget", "5"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    summary = _json.loads(lines[-1])
    assert summary["selected"] == 5
    assert summary["known_urls"] == 30  # 30 distinct keys, 2 captures each
    # default harvest stays index-free (the opt-in pin)
    lake2 = Lake(str(tmp_path / "lake-plain"))
    q3 = incremental_harvest(
        spark, lake2, corpus.build_sources(), stream_dir,
        tempfile.mkdtemp(prefix="gleaner-idxstream-ckpt2-"),
    )
    q3.awaitTermination(120)
    assert lake2.table("url_index").read(spark) is None


def test_streaming_index_replay_guard(spark, tmp_lake, tmp_path):
    """At-least-once replays must not double capture counts: a batch
    whose lineage-scoped index snapshot already published is skipped,
    while a FRESH checkpoint (new lineage, restarted batch ids) still
    appends."""
    import tempfile

    from gleaner_spark.plans.lake import Lake
    from gleaner_spark.sources import corpus
    from gleaner_spark.streaming.incremental import (
        _stream_run_id,
        incremental_harvest,
    )

    stream_dir = tempfile.mkdtemp(prefix="gleaner-replay-")
    ckpt = tempfile.mkdtemp(prefix="gleaner-replay-ckpt-")
    corpus.build_pages(spark, 20, partitions=1).write.mode("append") \
        .parquet(stream_dir)
    lake = Lake(tmp_lake)
    q = incremental_harvest(spark, lake, corpus.build_sources(),
                            stream_dir, ckpt, maintain_index=True)
    q.awaitTermination(120)
    idx = lake.table("url_index")
    assert idx.read(spark).count() == 20
    # inject "the replayed batch's append already committed": the next
    # batch on THIS checkpoint will be batch 1 — pre-publish its run_id
    from datetime import datetime
    idx.append_local(
        [{"surt_key": "org,marker)/x", "ts": datetime(2024, 1, 1),
          "url": "m", "digest": "d"}],
        run_id=_stream_run_id(q.id, 1),
    )
    corpus.build_pages(spark, 20, partitions=1).write.mode("append") \
        .parquet(stream_dir)
    q2 = incremental_harvest(spark, lake, corpus.build_sources(),
                             stream_dir, ckpt, maintain_index=True)
    q2.awaitTermination(120)
    assert q2.exception() is None
    # guard fired: only the marker row joined the table
    assert idx.read(spark).count() == 21
    # a fresh checkpoint is a new lineage: batch ids restart but the
    # scoped run_id differs, so its (different) content still lands
    ckpt2 = tempfile.mkdtemp(prefix="gleaner-replay-ckpt2-")
    lake2 = Lake(str(tmp_path / "lake-fresh"))
    q3 = incremental_harvest(spark, lake2, corpus.build_sources(),
                             stream_dir, ckpt2, maintain_index=True)
    q3.awaitTermination(120)
    assert lake2.table("url_index").read(spark).count() == 40


def _two_drops(spark, base):
    """Pages 0-19 and 20-39 of the synthetic corpus as two one-file
    parquet drops (different captures, so different index rows)."""
    import datetime as dt

    from gleaner_spark.sources import corpus

    pages = corpus.build_pages(spark, 40, partitions=1)
    early = F.col("warc_ts") < F.lit(corpus._EPOCH + dt.timedelta(seconds=20))
    dirs = [str(base / "drop-a"), str(base / "drop-b")]
    pages.filter(early).write.parquet(dirs[0])
    pages.filter(~early).write.parquet(dirs[1])
    return dirs


def test_streaming_checkpoint_recreated_at_same_path_lands(spark, tmp_lake, tmp_path):
    """A checkpoint wiped and recreated at the SAME path is a new
    lineage: its batch ids restart at 0 with different content, and
    its appends must still land (a guard keyed on the checkpoint path
    skipped them)."""
    import shutil

    from gleaner_spark.plans.lake import Lake
    from gleaner_spark.sources import corpus
    from gleaner_spark.streaming.incremental import incremental_harvest

    ckpt = str(tmp_path / "ckpt")
    lake = Lake(tmp_lake)
    for drop_dir in _two_drops(spark, tmp_path):
        shutil.rmtree(ckpt, ignore_errors=True)
        q = incremental_harvest(spark, lake, corpus.build_sources(),
                                drop_dir, ckpt, maintain_index=True)
        q.awaitTermination(120)
        assert q.exception() is None
    assert lake.table("url_index").read(spark).count() == 40
    runs = {s["run_id"] for s in lake.table("documents").snapshots()}
    assert len(runs) == 2 and all(r.startswith("stream-") for r in runs)


def test_streaming_replayed_batch_adds_no_prov(spark, tmp_lake, tmp_path):
    """A replayed batch whose PROV append already published adds no
    PROV rows (a guard on the capture index alone let a replay append
    PROV twice)."""
    import shutil

    from gleaner_spark.plans.lake import Lake
    from gleaner_spark.sources import corpus
    from gleaner_spark.streaming.incremental import (
        _stream_run_id,
        incremental_harvest,
    )

    first, second = _two_drops(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    lake = Lake(tmp_lake)
    q = incremental_harvest(spark, lake, corpus.build_sources(), first, ckpt)
    q.awaitTermination(120)
    prov = lake.table("prov")
    n_prov = prov.read(spark).count()
    assert n_prov > 0
    # batch 1 of this lineage "already published its PROV": a one-row
    # snapshot under its run_id stands in for the first attempt
    marker = prov.read(spark).limit(1).toPandas().to_dict("records")
    prov.append_local(marker, run_id=_stream_run_id(q.id, 1))
    # the next drop lands in the watched directory as batch 1
    for name in os.listdir(second):
        if name.endswith(".parquet"):
            shutil.copy(os.path.join(second, name), os.path.join(first, "b-" + name))
    q2 = incremental_harvest(spark, lake, corpus.build_sources(), first, ckpt)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert prov.read(spark).count() == n_prov + 1
    # batch 1's documents had not published, so they still land
    runs = [s["run_id"] for s in lake.table("documents").snapshots()]
    assert _stream_run_id(q.id, 1) in runs


def test_cli_recrawl_selected_reports_true_cut_size(spark, tmp_path, capsys):
    """The summary's `selected` is the real budget-cut size, not the
    number of rows printed under --print-limit."""
    import json as _json

    from gleaner_spark.__main__ import main

    idx_dir = str(tmp_path / "cidx")
    spark.createDataFrame(
        [(f"org,h{i % 3})/p/{i}", 100 + i, f"d{i % 2}") for i in range(12)],
        "surt_key string, ts long, digest string",
    ).write.mode("overwrite").parquet(idx_dir)
    assert main(["recrawl", "--index", idx_dir, "--now", "10000",
                 "--budget", "5", "--print-limit", "2"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 3  # 2 printed rows + summary
    summary = _json.loads(lines[-1])
    assert summary["selected"] == 5
    assert summary["known_urls"] == 12
