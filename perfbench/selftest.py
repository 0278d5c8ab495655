"""Self-tests of the benchmark's own checks.

    python3 perfbench/selftest.py

1. The generator's hand-written fixup pairs, and a sample of generated
   pages, agree with the program's kernels (extraction, fixups,
   UniqueId) — the oracle is independent, so this is where a
   disagreement would first show.
2. One corrupted stored document drops ``byte_identical_rate`` below
   1.0 and fails the check, for the harvest's documents table and for
   the post-harvest chain's corpus.
3. No timed post-harvest step's executed plan prunes an output column,
   while ``count()`` in place of the sink would.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow.parquet as pq

import run

SMALL = 40  # pages per crawl in the Spark-backed tests


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def test_kernels_agree() -> None:
    from gleaner_spark.core.extract import find_jsonld_in_page
    from gleaner_spark.core.fixups import process_json_text
    from gleaner_spark.core.identifier import generate_identifier

    import gen
    import workloads

    for before, after in gen.FIXUP_PAIRS:
        check(process_json_text(before) == after, f"fixup pair {before[:48]}...")
    crawl = gen.generate(workloads.HarvestCC.spec, seed=11)
    bad = 0
    for p in crawl.pages[:60]:
        src = crawl.source(p.source)
        docs = p.docs(src)
        got = find_jsonld_in_page(p.url, "text/html; charset=utf-8", crawl.html(p).encode())
        bad += sorted(got) != sorted(d.raw for d in docs)
        for d in docs:
            fixed = process_json_text(d.raw)
            paths = [gen.IDENTIFIER_PATH] if src.identifier_type == "identifiersha" else []
            uid = generate_identifier(src.identifier_type, paths, fixed).unique_id
            bad += (fixed, uid) != (d.fixed, d.unique_id)
    check(bad == 0, "generated pages: extraction, fixups and UniqueId match the oracle")


def test_corrupted_document(spark, work: str) -> None:
    import gen
    import workloads

    class Small(workloads.HarvestCC):
        spec = gen.Spec(n_sources=3, n_pages=SMALL, page_bytes=4000, doctype_share=0.5,
                        links_per_page=4, desc_words=30, unlisted_share=0.1)

    w = Small(spark, os.path.join(work, "corrupt"), seed=5)
    os.makedirs(w.work)
    w.setup()
    ctx = w.prepare("c0")
    out = w.run(ctx)
    clean = w.check(ctx, out)
    check(not clean.problems and clean.identical == clean.checked > 0,
          "harvest stores every document byte-identically")
    corrupt_one(os.path.join(ctx["lake"], "documents"), "jsonld")
    broken = w.check(ctx, out)
    rate = broken.identical / broken.checked
    check(rate < 1.0 and broken.problems, f"one corrupted document gives rate {rate:.4f} < 1")
    w.cleanup(ctx)


def corrupt_one(table_dir: str, column: str) -> None:
    """Change one byte of the first row of ``column`` in the first
    parquet file under ``table_dir``."""
    path = next(os.path.join(d, f) for d, _, fs in sorted(os.walk(table_dir))
                for f in sorted(fs) if f.endswith(".parquet") and
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows)
    table = pq.read_table(path)
    values = table.column(column).to_pylist()
    values[0] = values[0].replace('"Dataset', '"Datasett', 1)
    i = table.schema.get_field_index(column)
    pq.write_table(table.set_column(i, column, [values]), path)


def pruned_columns(step_df, executed_df) -> list[str]:
    """Output columns of ``step_df`` missing from the fullest node of
    the optimized plan Spark runs for ``executed_df``: empty when some
    node computes every column (a sink), non-empty when the optimizer
    pruned the work away (``count()``)."""
    want = set(step_df.columns)
    best, todo = want, [executed_df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        missing = want - {a.name() for a in _seq(node.output())}
        if len(missing) < len(best):
            best = missing
        todo.extend(_seq(node.children()))
    return sorted(best)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def test_materialization(spark, work: str) -> None:
    import gen
    import workloads

    class Small(workloads.PostHarvest):
        spec = gen.Spec(n_sources=4, n_pages=SMALL, links_per_page=4, desc_words=60,
                        near_dup_share=0.1)
        budget = 10

    w = Small(spark, os.path.join(work, "materialize"), seed=5)
    os.makedirs(w.work)
    w.setup()
    steps = []

    def recording_sink(step, df, path):
        steps.append((step, df))
        workloads.write_parquet(step, df, path)

    ctx = w.prepare("m0")
    out = w.run(ctx, sink=recording_sink)
    clean = w.check(ctx, out)
    check(not clean.problems and clean.identical == clean.checked > 0,
          "post-harvest chain passes its checks; its corpus holds every keeper byte-identically")
    check(len(steps) == 3, "every DataFrame step goes through the sink")
    for step, df in steps:
        check(pruned_columns(df, df) == [], f"{step}: sink plan computes every output column")
    # the check has teeth: count() in place of the sink prunes columns
    lost = {step: pruned_columns(df, df.groupBy().count()) for step, df in steps}
    check(any(lost.values()), f"count() plans would prune {lost}")
    corrupt_one(os.path.join(ctx["lake"], "corpus"), "text")
    broken = w.check(ctx, out)
    rate = broken.identical / broken.checked
    check(rate < 1.0 and broken.problems, f"one corrupted corpus text gives rate {rate:.4f} < 1")
    w.cleanup(ctx)


def main() -> int:
    if not os.path.isfile(os.path.join(run.ROOT, "gleaner_spark", "__init__.py")):
        print("gleaner_spark not found: run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [run.ROOT, run.HERE]
    test_kernels_agree()
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    run.configure_env(work, trace=False)
    spark = run.start_spark()
    try:
        test_corrupted_document(spark, work)
        test_materialization(spark, work)
    finally:
        run.stop_spark(spark)
        from probe import wait_for_children

        wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
    print("all self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
