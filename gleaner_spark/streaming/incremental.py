"""Incremental recrawl via Structured Streaming (optional extension).

The reference is single-shot batch (cmd/root.go:36-68; ``mode: diff``
is fatal-unsupported at resources.go:73-75). Parity therefore does
NOT require streaming — resumability comes from lake snapshots + the
frontier ``state`` column. This module adds the natural Spark
extension: new page snapshots landing in a directory are harvested
incrementally with ``Trigger.AvailableNow`` semantics.

The micro-batch body is an adapter over the shared phase-2 kernel in
``operators/harvest.py`` (``processed_pages``, ``append_new_documents``,
``append_prov``) — the same code ``run_harvest`` calls — so the
streaming lake and a batch harvest of the identical pages are
table-equal (documents and prov; pinned by the differential suite in
tests/test_streaming_differential.py). The adapter only maps a page
drop to phase-2 inputs:

- source attribution: the frontier derives it from sitemap ownership;
  a page drop has no sitemap, so attribution is the host → source
  domain match (a broadcast join; pages outside every source's domain
  are dropped, the analog of not being sitemap-listed).
- robots: the same vectorized evaluator as the frontier anti-filter.
- crawl order: ``position`` is the row_number per source over
  ``warc_ts`` (the capture timestamp IS the crawl order in a
  WARC-derived stream) so the shared-identifier tie-break picks the
  same winner as the batch pipeline; across micro-batches the earlier
  batch wins by the lake seen-set, which matches too.
- run_id: scoped to the checkpoint lineage (``_stream_run_id``), and
  every append is skipped when its run_id already published, so a
  replayed batch adds no rows twice.

100-TB shape: each micro-batch shuffles only its own pages; the dedup
anti-join prunes via the lake seen projection (columnar, two columns
of the documents table). The per-trigger seen-table scan is the
streaming price for exact dedup — the batch pipeline's checkpointed
bloom sketch covers the bulk-backfill path, and a valid checkpoint is
picked up here too (metadata-only probe per batch).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.lake import Lake
from ..session import local_frame
from ..sources.config import Source


def _stream_run_id(query_id: str, batch_id: int) -> str:
    """``stream-<lineage>-<batch_id>``, the run_id of a micro-batch's
    appends. The lineage is the query's persistent id, which Spark
    keeps in the checkpoint: a new checkpoint restarts batch ids with
    different content, and gets a new id even when it is recreated at
    the same path."""
    return f"stream-{query_id.replace('-', '')[:12]}-{batch_id}"


def _ordered_positions(pages):
    """Per-source crawl order for a micro-batch: 1-based rank over
    (warc_ts, url) — the capture timestamp IS the crawl order in a
    WARC-derived stream, url breaks ties deterministically.

    Uses ``operators.frontier.block_salted_rank`` instead of a plain
    ``Window.partitionBy(source_name)`` (VERDICT r4 #4): a large
    ``maxFilesPerTrigger`` drop concentrated on one source would
    serialize that plain window into a single task. Blocks are hour
    buckets of warc_ts — a pure function of the leading order key, so
    ties can never straddle a block boundary and the salted rank is
    row-for-row identical to the unsalted window (pinned by test)."""
    from ..operators.frontier import block_salted_rank

    salted = pages.withColumn(
        "_blk", F.floor(F.unix_timestamp(F.col("warc_ts")) / F.lit(3600))
    )
    ranked = block_salted_rank(
        salted, ["source_name"], ["_blk"], ["warc_ts", "url"],
        out_col="position",
    )
    return ranked.withColumn(
        "position", (F.col("position") + F.lit(1)).cast("long")
    ).drop("_blk")


def incremental_harvest(
    spark: SparkSession,
    lake: Lake,
    sources: list[Source],
    pages_stream_dir: str,
    checkpoint_dir: str,
    run_date: str = "2024-01-01",
    bucket: str = "gleaner",
    context_maps: dict[str, dict] | None = None,
    robots_bodies: dict[str, str] | None = None,
    global_strict: bool = False,
    rude: bool = False,
    max_files_per_trigger: int = 8,
    maintain_index: bool = False,
):
    """Start an available-now streaming harvest over a directory of
    page parquet drops. Returns the StreamingQuery (await it with
    .awaitTermination()).

    ``maintain_index=True`` additionally appends each micro-batch's
    per-capture SURT index rows (operators/urlindex.
    build_capture_index — url, ts, sha1 digest) to a ``url_index``
    lake table, so the crawl → index → recrawl-schedule loop runs
    continuously off the stream with no separate index pass. Indexing
    covers the WHOLE drop — including pages outside every source's
    domain and robots-disallowed ones — because the capture index
    records what was captured; admission decisions (the recrawl
    budget, robots) filter at scheduling time. Opt-in so the default
    streaming lake stays table-equal to a batch harvest (the
    differential suite's pin)."""
    from ..operators import harvest as hv
    from ..operators.frontier import _robots_filter_udf
    from ..sources.corpus import PAGES_SCHEMA

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_stream_dir)
    )

    src_rows = [(s.domain, s.name) for s in sources if s.active and s.domain]

    # the SAME host keying as the fused frontier (_host_of): tolerant
    # of hosts java.net.URI rejects, and never throws — F.parse_url
    # raises [INVALID_URL] on URI-invalid page URLs ('{', '|', spaces
    # all occur in real WARC frontiers), which would kill the whole
    # micro-batch and the streaming query with it
    @F.pandas_udf("string")
    def _host_udf(urls):
        from ..operators.frontier import _host_of

        return urls.map(lambda u: _host_of(u) if u else None)

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        run_id = _stream_run_id(
            sp.sparkContext.getLocalProperty("sql.streaming.queryId"),
            batch_id,
        )

        # at-least-once guard: foreachBatch can replay a batch_id after
        # a partial failure. Within one checkpoint lineage a replayed
        # batch carries identical content (Spark's contract), so an
        # append whose run_id already published is skipped: a second
        # capture-index append would double those keys' n_captures in
        # every recrawl estimate, a second prov append would duplicate
        # its rows
        def unpublished(table: str) -> bool:
            return not any(
                s.get("run_id") == run_id
                for s in lake.table(table).snapshots()
            )

        if maintain_index and unpublished("url_index"):
            from ..operators.urlindex import build_capture_index

            # zero-exchange projection of the raw drop; coalesce caps
            # the small-file growth of a long-lived stream at 2
            # files/batch (narrow dependency, no shuffle)
            lake.table("url_index").append(
                build_capture_index(batch_df).coalesce(2), run_id=run_id,
            )
        docs_due, prov_due = unpublished("documents"), unpublished("prov")
        if not (docs_due or prov_due):
            return
        pages = batch_df.withColumn("host", _host_udf(F.col("url")))
        src_df = local_frame(sp, src_rows, "host string, source_name string")
        pages = pages.join(F.broadcast(src_df), "host", "inner")
        if not rude and robots_bodies:
            allowed = _robots_filter_udf(robots_bodies)
            pages = pages.filter(allowed(F.col("url"), F.col("host")))
        fetched = _ordered_positions(pages).select(
            "source_name", "url", "position", "html", "text", "content_type"
        )
        # micro-batches are small: 2 files/source caps the per-batch
        # small-file growth of a long-lived stream in both sinks
        with hv.processed_pages(fetched, sources, global_strict,
                                context_maps) as processed:
            if docs_due:
                hv.append_new_documents(sp, lake, processed, run_id, 2)
            if prov_due:
                hv.append_prov(lake, processed, sources, bucket, run_date,
                               run_id, 2)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
