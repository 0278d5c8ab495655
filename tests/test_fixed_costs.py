"""Fixed costs a Python worker pays once, and the job/task budget of a
harvest.

- In a worker, importing ``gleaner_spark`` freezes the cyclic collector's
  baseline (after pandas and pyarrow), so the daemon's per-task
  ``gc.collect()`` scans only what a task creates; in the driver it
  freezes nothing.
- Small driver-side relations (the frontier's politeness table, the
  micro-batch's host → source table) are Arrow ``LocalRelation``s, not
  ``parallelize``-backed RDDs whose scans run Python jobs.
- A small ``run_harvest`` and one ``incremental_harvest`` micro-batch stay
  within a recorded job and task budget.
- The harvest gives the same rows with Arrow off (the non-Arrow
  ``createDataFrame``/``toPandas`` path).
"""

from __future__ import annotations

import gc
import os
import subprocess
import sys

import pytest

from gleaner_spark.operators import harvest as hv
from gleaner_spark.operators.frontier import build_frontier, schedule_fetches
from gleaner_spark.plans.lake import Lake
from gleaner_spark.plans.pipeline import run_harvest
from gleaner_spark.sources import corpus
from gleaner_spark.sources.config import SummonerConfig
from gleaner_spark.streaming.incremental import incremental_harvest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 60
ARROW = "spark.sql.execution.arrow.pyspark.enabled"

# Jobs and completed tasks on local[4] with 4 shuffle partitions. The
# list-built relations gave the same counts: their Python tasks ran inside
# the broadcast jobs a LocalRelation still runs (as JVM tasks), so the plan
# tests above, not these pins, catch a Python relation coming back.
HARVEST_BUDGET = (21, 45)
MICRO_BATCH_BUDGET = (11, 27)


def _freeze_count_on_import(env: dict[str, str]) -> int:
    out = subprocess.run(
        [sys.executable, "-c",
         "import gc, gleaner_spark; print(gc.get_freeze_count())"],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    )
    return int(out.stdout.strip())


def test_driver_import_freezes_nothing():
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHON_WORKER_FACTORY_SECRET"}
    assert _freeze_count_on_import(env) == 0


@pytest.mark.skipif(not hasattr(gc, "freeze"), reason="no gc.freeze")
def test_worker_import_freezes_after_pandas():
    env = dict(os.environ, PYTHON_WORKER_FACTORY_SECRET="x")
    # pandas + pyarrow alone track tens of thousands of objects
    assert _freeze_count_on_import(env) > 20_000


def _worker_gc(spark) -> list:
    def probe(batches):
        import gc
        import os

        import pandas as pd

        import gleaner_spark  # noqa: F401

        for _ in batches:
            pass
        unfrozen = len(gc.get_objects())
        # a cycle made inside a task is still reclaimed
        cycle = []
        cycle.append(cycle)
        del cycle
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "frozen": [gc.get_freeze_count()],
            "unfrozen": [unfrozen],
            "collected": [gc.collect()],
        })

    return (
        spark.range(0, 16, numPartitions=16)
        .mapInPandas(probe, "pid long, frozen long, unfrozen long, collected long")
        .collect()
    )


@pytest.mark.skipif(not hasattr(gc, "freeze"), reason="no gc.freeze")
def test_workers_freeze_the_collector_baseline(spark):
    _worker_gc(spark)  # warm-up: every worker imports the package
    rows = _worker_gc(spark)
    assert rows
    for r in rows:
        assert r.frozen > 0, r
        assert r.unfrozen < 20_000, r
        assert r.collected >= 1, r


def _leaves(df) -> list[tuple[str, set[str]]]:
    """(node name, output column names) of each optimized-plan leaf."""
    seq = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(seq.size()):
        leaf = seq.apply(i)
        cols = leaf.output()
        out.append((leaf.nodeName(),
                    {cols.apply(j).name() for j in range(cols.size())}))
    return out


def _assert_small_relation_is_local(df, small_cols: set[str],
                                    input_col: str | None = None):
    """The small relation is a LocalRelation; the only RDD leaves, if any,
    are the input rows (those carrying ``input_col``)."""
    leaves = _leaves(df)
    assert ("LocalRelation", small_cols) in leaves, leaves
    rdds = [cols for name, cols in leaves if "RDD" in name]
    assert all(input_col in cols for cols in rdds), leaves


def test_frontier_politeness_is_a_local_relation(spark):
    frontier, _ = build_frontier(
        spark, corpus.build_sources(), corpus.build_sitemaps(N_PAGES),
        corpus.build_robots(), SummonerConfig(),
    )
    _assert_small_relation_is_local(
        frontier, {"source_name", "threads", "delay_ms"}
    )


def _write_drop(spark, stream_dir: str, n_pages: int = N_PAGES) -> None:
    corpus.build_pages(spark, n_pages, partitions=2).write.parquet(stream_dir)


def _micro_batch(spark, base, run_date="2024-01-01"):
    lake = Lake(str(base / "lake"))
    q = incremental_harvest(
        spark, lake, corpus.build_sources(), str(base / "drops"),
        str(base / "ckpt"), run_date=run_date,
        robots_bodies=corpus.build_robots(),
    )
    q.awaitTermination()
    assert q.exception() is None
    return q, lake


def test_micro_batch_source_map_is_a_local_relation(spark, tmp_path, monkeypatch):
    _write_drop(spark, str(tmp_path / "drops"))
    seen = []
    real = hv.processed_pages

    def recording(fetched, *args, **kwargs):
        # foreachBatch hands over the batch as a (JVM) LogicalRDD
        seen.append(_leaves(fetched))
        _assert_small_relation_is_local(
            fetched, {"host", "source_name"}, "html"
        )
        return real(fetched, *args, **kwargs)

    monkeypatch.setattr(hv, "processed_pages", recording)
    _micro_batch(spark, tmp_path)
    assert len(seen) == 1, seen


def _next_job_id(spark) -> int:
    """One past the id of a marker JVM job. Broadcast exchanges and the
    stream thread run their jobs under groups of their own, so a job group
    set around a run misses them; the ids between two markers do not."""
    sc = spark.sparkContext
    sc.setJobGroup("pin-marker", "job id marker")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup("pin-marker")) + 1


def _jobs_and_tasks(spark, run):
    """``run()``'s result, and the jobs and completed tasks it ran."""
    first = _next_job_id(spark)
    result = run()
    jobs = range(first, _next_job_id(spark) - 1)
    st = spark.sparkContext.statusTracker()
    tasks = 0
    for jid in jobs:
        for sid in st.getJobInfo(jid).stageIds:
            info = st.getStageInfo(sid)
            tasks += info.numCompletedTasks if info else 0
    return result, len(jobs), tasks


def test_harvest_job_and_task_budget(spark, tmp_lake):
    pages = corpus.build_pages(spark, N_PAGES, partitions=2)
    res, jobs, tasks = _jobs_and_tasks(spark, lambda: run_harvest(
        spark, Lake(tmp_lake), corpus.build_sources(), pages,
        corpus.build_sitemaps(N_PAGES), corpus.build_robots(),
    ))
    assert res.errors == [] and res.new_documents > 0
    assert jobs <= HARVEST_BUDGET[0] and tasks <= HARVEST_BUDGET[1], (jobs, tasks)


def test_micro_batch_job_and_task_budget(spark, tmp_path):
    _write_drop(spark, str(tmp_path / "drops"))
    (_, lake), jobs, tasks = _jobs_and_tasks(
        spark, lambda: _micro_batch(spark, tmp_path)
    )
    assert lake.table("documents").read(spark).count() > 0
    assert jobs <= MICRO_BATCH_BUDGET[0] and tasks <= MICRO_BATCH_BUDGET[1], (jobs, tasks)


def _schedule_rows(spark):
    frontier, errors = build_frontier(
        spark, corpus.build_sources(), corpus.build_sitemaps(N_PAGES),
        corpus.build_robots(), SummonerConfig(threads=3, delay_ms=0),
    )
    rows = schedule_fetches(frontier).collect()
    return errors, sorted((tuple(r) for r in rows), key=repr)


def _documents(spark, lake) -> list[tuple]:
    cols = ["source_name", "url", "sha", "jsonld", "unique_id"]
    df = lake.table("documents").read(spark).select(*cols)
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture()
def arrow_off(spark):
    before = spark.conf.get(ARROW)
    spark.conf.set(ARROW, "false")
    yield
    spark.conf.set(ARROW, before)


def test_schedule_is_identical_without_arrow(spark, request):
    on = _schedule_rows(spark)
    request.getfixturevalue("arrow_off")
    off = _schedule_rows(spark)
    assert on[1] and off == on


def test_micro_batch_is_identical_without_arrow(spark, tmp_path, request):
    _write_drop(spark, str(tmp_path / "drops"))
    (tmp_path / "on").mkdir()
    (tmp_path / "off").mkdir()
    for side in ("on", "off"):
        os.symlink(tmp_path / "drops", tmp_path / side / "drops")
    _, lake_on = _micro_batch(spark, tmp_path / "on")
    on = _documents(spark, lake_on)
    request.getfixturevalue("arrow_off")
    _, lake_off = _micro_batch(spark, tmp_path / "off")
    assert on and _documents(spark, lake_off) == on
