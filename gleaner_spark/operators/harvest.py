"""Fetch → extract → normalize → dedup → sink (SURVEY §2 S14-S31, §3.3).

The reference's per-URL goroutine pipeline (acquire.go:108-218)
becomes four declarative stages:

1. **fetch**: ``frontier ⋈ pages`` equi-join on normalized URL — the
   pages table stands in for live HTTP per BASELINE.json input_hint.
   Column pruning matters at CC scale: ``html`` is only read by this
   stage's output and never carried past extraction.
2. **extract** (S16): one ``mapInPandas`` pass per fetched batch;
   byte-identical JSON-LD candidates + the zero-docs text fallback
   (S30 headless semantics).
3. **process** (S17-S26): vectorized fixup chain + SHA-1/SHA-256 +
   identifier dispatch, one Arrow batch at a time.
4. **dedup + sinks** (S27-S31): Bloom-prefiltered left-anti join
   against the seen set on (source_name, unique_id) — the reference
   names objects ``summoned/<site>/<identifier.UniqueId>.jsonld`` and
   its StatObject idempotency check therefore keys on UniqueId, not
   the content hash (jsonutils.go:355-357,384-386); for ``jsonsha``
   sources UniqueId == content SHA-1, but ``identifiersha``/
   ``identifierstring`` sources collapse documents sharing the
   extracted identifier and do NOT re-store changed content under an
   unchanged identifier. Appends to documents / prov / metrics lake
   tables. Prov is emitted for every extracted doc *before* the
   exists-check, reproducing prov.go's re-put-every-run behavior
   (jsonutils.go:378 precedes :384).

Stages 2-4 run through one kernel shared by the batch pipeline and
the streaming micro-batch: ``processed_pages`` (the persisted fused
extract/process output), ``append_new_documents`` and ``append_prov``.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import extract as ex
from ..core import fixups as fx
from ..core import identifier as ident
from ..sources.config import Source
from .sketch import BloomSketch, build_bloom, with_might_contain

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("source_name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("position", T.LongType()),
        T.StructField("doc_idx", T.IntegerType()),
        T.StructField("jsonld", T.StringType()),
        T.StructField("via_fallback", T.BooleanType()),
    ]
)


def fetch_pages(frontier: DataFrame, pages: DataFrame,
                broadcast_frontier: bool = False) -> DataFrame:
    """S15 as an equi-join. Only url/html/text/content_type leave
    the scan (column pruning); the Content-Type header rides along
    for the whole-body-JSON negotiation (acquire.go:240) and a
    corpus without the column degrades to the extension-only check.

    Partitioning: the frontier arrives partitioned by ``host``
    (politeness window) — exactly the heavy-tail skew the north rule
    warns about; if it became the stream side of a broadcast join, a
    few giant hosts would serialize every downstream Arrow stage.

    - ``broadcast_frontier=True`` (callers pass it when the frontier
      slice is known-small, e.g. from the checkpoint count): the
      output inherits the *pages* scan partitioning — uniform, no
      shuffle of the html column at all.
    - otherwise a SHUFFLE_HASH hint on the frontier side forces a
      shuffled-hash join: both sides exchange ONCE on hash(url)
      (uniform by construction), the frontier is the build side (the
      html-bearing pages stream past it, never sorted, never
      broadcast), and the output partitioning is hash(url) — exactly
      the bucketing the downstream Arrow stages want. The hint
      prevents the one bad plan (Catalyst broadcasting the pages side
      on small corpora, which would propagate the frontier's host
      skew into every downstream stage) instead of repairing it with
      a second full shuffle of the widest column."""
    ct = (
        F.col("content_type") if "content_type" in pages.columns
        else F.lit(None).cast("string")
    )
    p = pages.select(
        F.col("url").alias("page_url"),
        F.col("html"),
        F.col("text"),
        ct.alias("content_type"),
    )
    if broadcast_frontier:
        return (
            F.broadcast(frontier)
            .join(p, frontier["url"] == p["page_url"], "inner")
            .drop("page_url")
        )
    return (
        frontier.hint("shuffle_hash")
        .join(p, frontier["url"] == p["page_url"], "inner")
        .drop("page_url")
    )


def extract_documents(fetched: DataFrame, headless_wait_by_source: dict[str, int] | None = None) -> DataFrame:
    """S16 + S30 fallback, vectorized."""
    hw = headless_wait_by_source or {}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in EXTRACTED_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                url = row.url
                # content-type negotiation (acquire.go:240): the header
                # contains-check ORs with the extension check inside
                # find_jsonld_in_page; a null header degrades to the
                # extension-only path
                docs = ex.find_jsonld_in_page(url, row.content_type, row.html)
                via_fallback = False
                if not docs and hw.get(row.source_name, 0) >= 0:
                    docs = ex.extract_from_text_fallback(row.text)
                    via_fallback = bool(docs)
                for j, d in enumerate(docs):
                    if d == "":
                        continue  # UploadWithLogsAndMetadata skips empties
                    out["source_name"].append(row.source_name)
                    out["url"].append(url)
                    out["position"].append(row.position)
                    out["doc_idx"].append(j)
                    out["jsonld"].append(d)
                    out["via_fallback"].append(via_fallback)
            yield pd.DataFrame(out)

    cols = ["source_name", "url", "position", "html", "text", "content_type"]
    if "content_type" not in fetched.columns:
        fetched = fetched.withColumn("content_type", F.lit(None).cast("string"))
    return fetched.select(*cols).mapInPandas(run, EXTRACTED_SCHEMA)


PROCESSED_EXTRA = [
    T.StructField("fixed_jsonld", T.StringType()),
    T.StructField("sha", T.StringType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("unique_id", T.StringType()),
    T.StructField("identifier_type", T.StringType()),
    T.StructField("matched_path", T.StringType()),
    T.StructField("matched_string", T.StringType()),
]

# what the Arrow stage itself emits: content hashes are NOT computed
# in Python — _complete_hashes adds them as JVM column expressions
_PROCESSED_PY_EXTRA = [
    f for f in PROCESSED_EXTRA if f.name not in ("sha", "sha256")
]


def _complete_hashes(df: DataFrame) -> DataFrame:
    """S23/S24 content hashing as codegen column expressions.

    The Arrow stage emits ``fixed_jsonld`` plus a null ``unique_id``
    whenever the identity is the content SHA-1 (jsonsha sources and
    the no-JSONPath-match fallback, identifier.go:73-112); this stage
    computes ``sha``/``sha256`` with F.sha1/F.sha2 (UTF-8, byte-equal
    to hashlib — pinned by test) and coalesces the deferred identity
    columns. Sentinel rows (doc_idx = -1, zero-doc pages) keep null
    hashes/identity, as before. Net effect: the per-doc Python kernel
    no longer hashes the full document text at all (it previously did
    so three times: SHA-1 in process_json, SHA-1 again in
    generate_identifier, SHA-256 for the table column)."""
    is_doc = F.col("doc_idx") >= 0
    from ..core.identifier import JSON_SHA

    return (
        df.withColumn("sha", F.when(is_doc, F.sha1(F.col("fixed_jsonld"))))
        .withColumn("sha256", F.when(is_doc, F.sha2(F.col("fixed_jsonld"), 256)))
        .withColumn("unique_id", F.when(is_doc, F.coalesce("unique_id", "sha")))
        .withColumn(
            "identifier_type",
            F.when(is_doc, F.coalesce("identifier_type", F.lit(JSON_SHA))),
        )
        .withColumn("matched_path", F.when(is_doc, F.coalesce("matched_path", F.lit(""))))
        .withColumn("matched_string", F.when(is_doc, F.coalesce("matched_string", F.lit(""))))
    )


def process_documents(extracted: DataFrame, sources: list[Source],
                      global_strict: bool = False,
                      context_maps: dict[str, dict] | None = None) -> DataFrame:
    """S17-S26: fixup chain + hashing + identifier dispatch.

    Per-source options ride in a broadcast dict; the heavy work is a
    single Arrow-batched pass (no per-row Python UDF). ``context_maps``
    (config ``contextmaps:`` → parsed context docs) ships through the
    closure so executor workers install it (ldproc.go parity)."""
    opts = {
        s.name: (s.fix_context_option, s.identifier_type,
                 [p for p in [s.identifier_path] if p])
        for s in sources
    }
    py_schema = T.StructType(list(EXTRACTED_SCHEMA.fields) + _PROCESSED_PY_EXTRA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # unconditional: an empty/None map must RESET a worker that
        # installed a previous run's contextmaps (memoized on content)
        fx.apply_context_maps(context_maps)
        for pdf in batches:
            fixed_col = []
            uid_col, itype_col, mpath_col, mstr_col = [], [], [], []
            for row in pdf.itertuples(index=False):
                fix_opt, id_type, id_paths = opts.get(
                    row.source_name, ("https", ident.JSON_SHA, [])
                )
                fixed = fx.process_json_text(row.jsonld, fix_opt, global_strict)
                identifier = ident.generate_identifier_deferred(id_type, id_paths, fixed)
                fixed_col.append(fixed)
                # None = content-sha identity, completed JVM-side
                uid_col.append(identifier.unique_id if identifier else None)
                itype_col.append(identifier.identifier_type if identifier else None)
                mpath_col.append(identifier.matched_path if identifier else None)
                mstr_col.append(identifier.matched_string if identifier else None)
            pdf = pdf.assign(
                fixed_jsonld=fixed_col,
                unique_id=uid_col, identifier_type=itype_col,
                matched_path=mpath_col, matched_string=mstr_col,
            )
            yield pdf

    out_cols = [f.name for f in EXTRACTED_SCHEMA.fields] + [
        f.name for f in PROCESSED_EXTRA
    ]
    return _complete_hashes(extracted.mapInPandas(run, py_schema)).select(*out_cols)


def extract_and_process(fetched: DataFrame, sources: list[Source],
                        headless_wait_by_source: dict[str, int] | None = None,
                        global_strict: bool = False,
                        context_maps: dict[str, dict] | None = None,
                        emit_raw: bool = True) -> DataFrame:
    """Fused S16-S26: extraction + fixup chain + hashing in ONE Arrow
    pass. Chaining two ``mapInPandas`` calls puts two python runners in
    the same Spark stage (2 workers *per task* — a 2x worker
    oversubscription at full core count) and pays Arrow serde twice;
    the harvest pipeline uses this fused stage instead. The unfused
    operators remain the unit-testable building blocks.

    A page that yields zero documents emits one *sentinel* row
    (``doc_idx = -1``, null jsonld) carrying ``page_bytes``, so the
    downstream metrics aggregation sees every fetched page without a
    second pass over the html-bearing join output — html flows through
    this stage exactly once and is never cached (at CC scale the
    binary column dominates all IO; touch it once).

    ``emit_raw=False`` nulls the pre-fixup ``jsonld`` column (schema
    unchanged). The harvest pipeline sinks only ``fixed_jsonld``
    (documents_table) — the raw text would otherwise ride the Arrow
    transfer out of the Python worker and the phase-2 persist as a
    second full copy of every document that nothing reads. Keep the
    default for extraction-parity tests (the byte-identical invariant
    pins the raw column)."""
    hw = headless_wait_by_source or {}
    opts = {
        s.name: (s.fix_context_option, s.identifier_type,
                 [p for p in [s.identifier_path] if p])
        for s in sources
    }
    page_fields = [T.StructField("page_bytes", T.LongType()),
                   T.StructField("page_first", T.BooleanType())]
    py_schema = T.StructType(
        list(EXTRACTED_SCHEMA.fields) + _PROCESSED_PY_EXTRA + page_fields
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # contextmaps install once per worker process (ldproc.go
        # parity; shipped via closure — driver globals don't
        # propagate). Unconditional: empty/None resets stale installs.
        fx.apply_context_maps(context_maps)
        for pdf in batches:
            out = {k: [] for k in py_schema.fieldNames()}

            def emit(row, j, d, via_fallback, nbytes, fixed="",
                     identifier=None, first=False):
                out["source_name"].append(row.source_name)
                out["url"].append(row.url)
                out["position"].append(row.position)
                out["doc_idx"].append(j)
                out["jsonld"].append(d if emit_raw else None)
                out["via_fallback"].append(via_fallback)
                out["fixed_jsonld"].append(fixed)
                # None = content-sha identity, completed JVM-side
                out["unique_id"].append(identifier.unique_id if identifier else None)
                out["identifier_type"].append(identifier.identifier_type if identifier else None)
                out["matched_path"].append(identifier.matched_path if identifier else None)
                out["matched_string"].append(identifier.matched_string if identifier else None)
                out["page_bytes"].append(nbytes)
                out["page_first"].append(first)

            for row in pdf.itertuples(index=False):
                url = row.url
                nbytes = len(row.html) if row.html is not None else 0
                # header contains-check ∨ extension check (acquire.go:240)
                docs = ex.find_jsonld_in_page(url, row.content_type, row.html)
                via_fallback = False
                if not docs and hw.get(row.source_name, 0) >= 0:
                    docs = ex.extract_from_text_fallback(row.text)
                    via_fallback = bool(docs)
                fix_opt, id_type, id_paths = opts.get(
                    row.source_name, ("https", ident.JSON_SHA, [])
                )
                emitted = 0
                for j, d in enumerate(docs):
                    if d == "":
                        continue  # UploadWithLogsAndMetadata skips empties
                    fixed = fx.process_json_text(d, fix_opt, global_strict)
                    identifier = ident.generate_identifier_deferred(id_type, id_paths, fixed)
                    # page_bytes only on the page's first row → plain
                    # sum() counts each page once downstream
                    emit(row, j, d, via_fallback,
                         nbytes if emitted == 0 else 0, fixed, identifier,
                         first=emitted == 0)
                    emitted += 1
                if emitted == 0:
                    emit(row, -1, None, False, nbytes, first=True)
            yield pd.DataFrame(out)

    cols = ["source_name", "url", "position", "html", "text", "content_type"]
    if "content_type" not in fetched.columns:
        fetched = fetched.withColumn("content_type", F.lit(None).cast("string"))
    out_cols = (
        [f.name for f in EXTRACTED_SCHEMA.fields]
        + [f.name for f in PROCESSED_EXTRA]
        + [f.name for f in page_fields]
    )
    return _complete_hashes(
        fetched.select(*cols).mapInPandas(run, py_schema)
    ).select(*out_cols)


def _first_per_key(df: DataFrame, key: str,
                   cluster_files: int = 4) -> DataFrame:
    """Deterministic within-run winner per identity key: lowest
    (position, doc_idx) = crawl order, mirroring the reference's
    serial per-source upload loop where the first PutObject wins and
    later uploads hit the StatObject skip (jsonutils.go:384-386).
    groupBy + min_by keeps map-side partial aggregation (a window
    would sort whole partitions). (position, doc_idx) is unique within
    a source; url breaks the remaining ties deterministically (rows of
    different sources whose keys collide, see below).

    The exchange is fused with the sink's: rows
    are hash-partitioned on two expressions derived from ``key``
    ALONE — its first '/'-segment (equal to source_name for every
    slash-free source name, i.e. always in practice) and a bounded
    salt — and grouped by that superset. Because every extra
    grouping column is a pure function of ``key``, the groups are
    EXACTLY groupBy(key)'s: even the degenerate collision where two
    (source, id) splits concat to one seen_key (source 'a' + id 'b/c'
    vs source 'a/b' + id 'c') keeps collapsing to one winner — which
    is the reference's semantics too, since both spell the same
    object path summoned/a/b/c.jsonld and StatObject keys on the
    path (jsonutils.go:355-357,384-386). Grouping on the REAL
    source_name column instead would split that key into two winners
    while the cross-run anti-join still treats it as one. Catalyst
    sees the repartition satisfy the aggregation's distribution and
    inserts NO second exchange; the output leaves clustered for a
    partitionBy(source_name) write (≤ files per value; pass
    files_per_partition=0 to LakeTable.append). Without this, the
    widest column in the pipeline — the fixed JSON-LD text — rides
    two full shuffles: once keyed for dedup, once re-clustered for
    the sink."""
    others = [c for c in df.columns if c != key]
    row = F.min_by(F.struct(*others), F.struct("position", "doc_idx", "url"))
    seg = F.substring_index(F.col(key), "/", 1)
    salt = F.pmod(F.xxhash64(F.col(key)), F.lit(cluster_files))
    return (
        df.repartition(seg, salt)
        .groupBy(seg, salt, F.col(key))
        .agg(row.alias("_r"))
        .select(key, "_r.*")
    )


def dedup_new_documents(spark: SparkSession, processed: DataFrame,
                        url_seen: DataFrame | None,
                        sketch: BloomSketch | None = None,
                        cluster_files: int = 4) -> DataFrame:
    """S27: Bloom-prefiltered anti-join on (source_name, unique_id).

    The identity key is ``identifier.UniqueId`` — the reference's
    object name is ``summoned/<site>/<UniqueId>.jsonld`` and the
    StatObject exists-check keys on it (jsonutils.go:355-357,
    384-386). For ``jsonsha`` sources UniqueId == content SHA-1; for
    ``identifiersha``/``identifierstring`` sources two documents
    sharing the extracted identifier collapse to one stored object
    and changed content under the same identifier is NOT re-stored.
    The content ``sha`` stays as an ordinary column.

    Bloom negatives are definitely new and skip the shuffle; only
    candidates anti-join the authoritative seen table. Pass a
    ``sketch`` restored from a lake checkpoint to skip the
    build-from-table scan entirely (the 10^10-frontier path — the
    sketch is maintained incrementally across runs).

    The winner-per-key exchange is fused with the documents sink's
    source_name clustering (see ``_first_per_key``): output rows
    leave hash-partitioned on (key-segment, salt-of-key), so the
    partitioned write adds no shuffle — the document text crosses
    the wire exactly once."""
    processed = processed.withColumn(
        "seen_key", F.concat_ws("/", "source_name", "unique_id")
    )
    if url_seen is None:
        return _first_per_key(
            processed, "seen_key", cluster_files=cluster_files
        ).drop("seen_key")
    seen_keys = url_seen.select(
        F.concat_ws("/", "source_name", "unique_id").alias("seen_key")
    )
    if sketch is None:
        sketch = build_bloom(seen_keys, "seen_key", expected=1_000_000)
    tagged = with_might_contain(processed, "seen_key", sketch, "maybe_seen")
    definitely_new = tagged.filter(~F.col("maybe_seen"))
    candidates = tagged.filter(F.col("maybe_seen"))
    verified_new = candidates.join(seen_keys, "seen_key", "left_anti")
    return _first_per_key(
        definitely_new.unionByName(verified_new), "seen_key",
        cluster_files=cluster_files,
    ).drop("seen_key", "maybe_seen")


SKETCH_TABLE = "url_seen_sketch"
# Version tag for what the sketch keys mean. Bumped when the dedup
# identity changes (round 3 moved it from content sha to
# identifier.UniqueId, jsonutils.go:356 parity): a checkpoint built
# under a different key schema would probe the wrong keyspace —
# bloom false negatives that skip the authoritative anti-join — so
# load refuses it (legacy rows have no tag and are refused too) and
# the caller rebuilds from the documents table.
SKETCH_KEY_SCHEMA = "source_name/unique_id"


def load_seen_sketch(lake) -> tuple[BloomSketch, int, int] | None:
    """Latest checkpointed seen-set sketch: (sketch, n_keys, expected).

    North rule: URL-seen sketches checkpoint to lake snapshots so a
    resumed/next run skips the build-from-table scan over the (at CC
    scale, 10^10-row) documents table.

    Lineage guard: the checkpoint records the documents-table snapshot
    it covers; if the table has advanced past it (a crash landed
    between the documents append and the sketch checkpoint), the
    sketch is stale — its missing keys would pass the bloom as
    "definitely new" and skip the authoritative anti-join — so refuse
    it and let the caller rebuild from the table (metadata-only
    check, no scan). Legacy/corrupt blobs are refused the same way."""
    t = lake.table(SKETCH_TABLE)
    snap = t.latest_snapshot()
    if snap is None:
        return None
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    files = sorted(_glob.glob(_os.path.join(t.dir, snap["data_dir"], "*.parquet")))
    if not files:
        return None
    row = _pq.read_table(files[0]).to_pylist()[0]
    if row.get("key_schema") != SKETCH_KEY_SCHEMA:
        return None
    docs_snap = lake.table("documents").latest_snapshot()
    covered = row.get("covers_snapshot_id")
    if covered != ((docs_snap or {}).get("snapshot_id")):
        return None
    try:
        sketch = BloomSketch.from_bytes(row["blob"])
    except (ValueError, KeyError):
        return None
    return sketch, int(row["n_keys"]), int(row["expected"])


def _shards_for(expected: int) -> int:
    """One shard per ~32M keys keeps each blob < ~64 MB at 1% FPP
    (broadcast-able, reducible by a single task)."""
    return max(1, (expected + (32 << 20) - 1) // (32 << 20))


def checkpoint_seen_sketch(spark: SparkSession, lake, snap_keys: DataFrame,
                           prev: tuple[BloomSketch, int, int] | None,
                           n_new: int, run_id: str,
                           all_keys: DataFrame | None = None,
                           covers_snapshot_id: str | None = None) -> None:
    """Fold the new snapshot's keys into the checkpointed sketch.

    Incremental path: distributed partial blooms over just the NEW
    keys, OR-merged with the stored bitset (same (m,k,shards) params —
    both derive from the stored ``expected``). When the key count
    outgrows the sketch's capacity (FP rate would degrade), rebuild
    from the authoritative table at 4x headroom; the rebuild's key
    count comes from the table itself (the incremental counter can
    understate it when the table predates the sketch)."""
    if prev is not None and prev[1] + n_new <= prev[2]:
        sk, n, expected = prev
        upd = build_bloom(snap_keys, "seen_key", expected=expected,
                          n_shards=sk.n_shards)
        merged = sk.union(upd)
        n_total = n + n_new
    else:
        src = all_keys if all_keys is not None else snap_keys
        n_total = src.count() if all_keys is not None else (prev[1] if prev else 0) + n_new
        expected = max(1_000_000, 4 * n_total)
        merged = build_bloom(src, "seen_key", expected=expected,
                             n_shards=_shards_for(expected))
    lake.table(SKETCH_TABLE).append_local(
        [{
            "blob": merged.to_bytes(), "n_keys": n_total, "expected": expected,
            "covers_snapshot_id": covers_snapshot_id,
            "key_schema": SKETCH_KEY_SCHEMA,
        }],
        run_id=run_id,
    )


def documents_table(new_docs: DataFrame, fetched_ts=None) -> DataFrame:
    """Shape of the documents lake table (SURVEY §1.2)."""
    return new_docs.select(
        "source_name",
        "url",
        "sha",
        F.col("sha256"),
        F.col("fixed_jsonld").alias("jsonld"),
        "identifier_type",
        "unique_id",
        "matched_path",
        # stored in object metadata by the reference (jsonutils.go:361-370)
        "matched_string",
        F.current_timestamp().alias("fetched_ts") if fetched_ts is None else F.lit(fetched_ts).alias("fetched_ts"),
    )


def prov_table(processed: DataFrame, sources: list[Source], bucket: str,
               run_date: str, cluster_files: int = 0) -> DataFrame:
    """S28 for every processed doc (pre-dedup, reference quirk).

    The ``sha`` handed to the prov template is ``identifier.UniqueId``
    (Upload passes ``sha := identifier.UniqueId`` to
    StoreProvNamedGraph, jsonutils.go:355,377), so the SHA256 field,
    the URN and this table's ``sha`` column all carry the unique_id —
    equal to the content SHA-1 only for ``jsonsha`` sources.

    The prov graph is a static text template with 7 substitutions
    (prov.go:31-79) — rendered entirely JVM-side (format_string +
    sha1 inside whole-stage codegen), no Python stage; byte-equality
    with the driver-side ``prov_graph`` renderer is pinned by test.

    ``cluster_files > 0`` pre-clusters the NARROW projection on
    (source_name, bounded salt) BEFORE rendering, so a downstream
    partitioned sink can write ≤ cluster_files files per source with
    no shuffle of its own (pass files_per_partition=0 to
    LakeTable.append). Ordering matters: the rendered template is
    ~30x the row's key width, so rendering after the exchange moves
    ~60 B/row through the shuffle instead of ~2 KB/row."""
    import re as _re

    from ..core.prov import PROV_TEMPLATE

    fields = _re.findall(r"%\((\w+)\)s", PROV_TEMPLATE)
    fmt = _re.sub(r"%\(\w+\)s", "%s", PROV_TEMPLATE)

    def _meta_map(attr: str, default: str):
        pairs = []
        for s in sources:
            pairs += [F.lit(s.name), F.lit(getattr(s, attr) or default)]
        if not pairs:
            return F.lit(default)
        m = F.create_map(*pairs)
        return F.coalesce(m[F.col("source_name")], F.lit(default))

    cols = {
        "PID": _meta_map("pid", "unknown"),
        "PNAME": _meta_map("proper_name", "unknown"),
        "DOMAIN": _meta_map("domain", "unknown"),
        "RESID": F.col("url"),
        # template names it SHA256; value is the UniqueId (prov.go:88,
        # jsonutils.go:355) — SHA-1 of content only for jsonsha sources
        "SHA256": F.col("unique_id"),
        "DATE": F.lit(run_date),
        "URN": F.concat_ws(":", F.lit("urn"), F.lit(bucket), F.col("source_name"), F.col("unique_id")),
    }
    prov_doc = F.format_string(fmt, *[cols[name] for name in fields])
    narrow = processed.select("source_name", "unique_id", "url")
    if cluster_files > 0:
        narrow = narrow.repartition(
            F.col("source_name"),
            F.pmod(F.spark_partition_id(), F.lit(cluster_files)),
        )
    return (
        narrow
        .withColumn("prov_jsonld", prov_doc)
        .withColumn("prov_sha", F.sha1(F.col("prov_jsonld")))
        .withColumn("date", F.lit(run_date))
        .withColumnRenamed("unique_id", "sha")
    )


@contextmanager
def processed_pages(fetched: DataFrame, sources: list[Source],
                    global_strict: bool = False,
                    context_maps: dict[str, dict] | None = None
                    ) -> Iterator[DataFrame]:
    """Fused extract/process over ``fetched``, persisted for the sinks
    that read it and unpersisted on exit, also when a sink raises (a
    crashed phase 2 must not leak the frame in a long-lived session).
    emit_raw=False: the sinks store fixed_jsonld only; the raw text
    would double the Arrow transfer and the persist."""
    hw = {s.name: s.headless_wait for s in sources}
    processed = extract_and_process(
        fetched, sources, hw, global_strict, context_maps=context_maps,
        emit_raw=False,
    ).persist()
    try:
        yield processed
    finally:
        processed.unpersist()


class DocumentsAppend(NamedTuple):
    snapshot: dict  # the lake entry; unpublished when no row was new
    new_rows: int
    # the sketch checkpoint loaded before the append, and whether the
    # table held documents: the batch pipeline folds the new keys into
    # the next checkpoint from these
    prior_sketch: tuple[BloomSketch, int, int] | None
    had_documents: bool


def append_new_documents(spark: SparkSession, lake, processed: DataFrame,
                         run_id: str, cluster_files: int) -> DocumentsAppend:
    """Append the documents of ``processed`` that the lake has not
    seen, as one snapshot. The seen set IS the documents table, keyed
    on identifier.UniqueId like the reference's object names and
    StatObject check (jsonutils.go:355-357,384-386); a seen sketch
    checkpoint under capacity skips the build-from-table scan.

    Dedup leaves the rows clustered for the sink, which therefore
    adds no shuffle (files_per_partition=0). The new-row count rides
    the same write via an Observation whose CollectMetrics node must
    stay at the plan ROOT: below a shuffle, AQE's empty-relation
    propagation deletes it when everything dedups away, and
    Observation.get fails. An all-seen input publishes nothing (the
    lake refuses dataless snapshots)."""
    from pyspark.sql import Observation

    seen = lake.table("documents").read(spark)
    prior = load_seen_sketch(lake)
    sketch = (prior[0] if seen is not None and prior is not None
              and prior[1] <= prior[2] else None)
    # the raw text and page counters never reach the sink: drop them
    # before the dedup shuffle
    docs = processed.filter(F.col("doc_idx") >= 0).drop(
        "jsonld", "page_bytes", "page_first"
    )
    new_docs = dedup_new_documents(spark, docs, seen, sketch=sketch,
                                   cluster_files=cluster_files)
    obs = Observation()
    snap = lake.table("documents").append(
        documents_table(new_docs).observe(obs, F.count(F.lit(1)).alias("n")),
        run_id=run_id, partition_by=["source_name"], files_per_partition=0,
    )
    return DocumentsAppend(snap, int(obs.get["n"]), prior, seen is not None)


def append_prov(lake, processed: DataFrame, sources: list[Source],
                bucket: str, run_date: str, run_id: str,
                cluster_files: int) -> None:
    """PROV for every processed doc, seen or not (the reference
    re-puts it each run, jsonutils.go:378 precedes :384), appended as
    one snapshot. The exchange moves only (source, id, url) keys, the
    rendered graph is born clustered, and the sink adds no shuffle."""
    prov = prov_table(processed.filter(F.col("doc_idx") >= 0), sources,
                      bucket, run_date, cluster_files=cluster_files)
    lake.table("prov").append(prov, run_id=run_id,
                              partition_by=["source_name"],
                              files_per_partition=0)


def metrics_from_processed(processed: DataFrame, run_id: str) -> DataFrame:
    """North-rule per-partition lineage from the fused-stage output
    alone: sentinel rows (doc_idx = -1) represent zero-doc pages, so
    every fetched page is visible without re-reading the html-bearing
    join output (the reference only logs these counts,
    acquire.go:31-33)."""
    return (
        processed.withColumn("partition_id", F.spark_partition_id())
        .groupBy("source_name", "partition_id")
        .agg(
            # page_first marks exactly one row per fetched page, so the
            # count is a map-side partial sum (countDistinct would add
            # a second shuffle stage)
            F.sum(F.when(F.col("page_first"), 1).otherwise(0)).alias("fetched"),
            F.sum(F.when(F.col("doc_idx") >= 0, 1).otherwise(0)).alias("extracted"),
            F.sum(
                F.when(F.col("via_fallback") & (F.col("doc_idx") >= 0), 1).otherwise(0)
            ).alias("via_fallback"),
            F.sum("page_bytes").alias("bytes"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
