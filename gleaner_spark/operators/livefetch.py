"""Live HTTP fetch stage — S15 over real sockets (VERDICT r3 #1).

The reference's fetch stage is a bounded-concurrency HTTP client: one
``http.Client`` per source, a semaphore of ``ThreadCount`` goroutines,
``User-Agent``/``Accept`` headers, and ``time.Sleep(Delay)`` after each
completion (acquire.go:116-218). The sandbox pipeline normally resolves
fetches via the pages-table join (``harvest.fetch_pages``, sanctioned by
BASELINE.json's input_hint); this module is the selectable live mode
behind the same contract — its output feeds ``extract_and_process``
unchanged.

Execution model — **a politeness lane never splits across tasks**:

- ``schedule_fetches`` (S13) already assigns every frontier row a
  ``lane`` (``fetch_seq % threads``; exactly 1 lane when ``delay_ms >
  0``, reproducing getConfig's threads→1 collapse, acquire.go:71-73).
  Hash-partitioning by ``(host, lane)`` keeps each lane whole inside
  one task, so per-host concurrency == the source's thread budget *by
  construction*: Spark can never run more simultaneous requests
  against a host than that host has lanes (lanes sharing a partition
  merely serialize — under-parallel, never over). No semaphore object
  needed.
- Within a lane, URLs fetch strictly in ``fetch_seq`` order
  (``sortWithinPartitions``) over ONE keep-alive connection per
  (scheme, netloc) (the reference reuses one http.Client's pool per
  source), following redirects like Go's http.Client (≤10 hops);
  ``delay_ms > 0`` sleeps after each completion (acquire.go:210
  sleeps whether or not the fetch failed).
- Memory: ``mapInPandas`` yields a frame every few dozen fetches, so
  a million-URL lane holds only that chunk of bodies in the task —
  never the whole group (the whole-group ``applyInPandas`` shape
  would buffer a lane's entire corpus before returning).
- 100-TB shape: cross-host parallelism is the scale axis — millions of
  (host, lane) groups spread over the cluster (raise
  spark.sql.shuffle.partitions so groups spread; co-located groups
  only serialize). A single giant host is NOT a Spark skew problem:
  its wall-clock is bounded below by its own politeness budget
  (delay × URLs / lanes), an irreducible serial chain no partitioning
  can shorten; the shuffle moves only (url, schedule) width, never
  bodies (bodies are born executor-side here and flow straight into
  extraction).

Status-code quirk (parity): the reference never checks
``resp.StatusCode`` — any transport-successful response body flows to
extraction (acquire.go:146-157 logs the code at Trace and parses the
body regardless); only transport errors (DNS, refused, timeout) skip
the URL, logged and continued (acquire.go:147-151). ``ok`` here means
"transport succeeded", not "HTTP 200".

``url_rewrite`` maps the logical URL to the socket actually dialed
(tests point the reference corpus at a local fixture server, the
reference does the same via httptest — testHelpers/mocks.go:13-37;
production could point at a mirror/proxy). Output rows always carry the
LOGICAL url, so identity, dedup and prov are rewrite-invariant.
"""

from __future__ import annotations

import http.client
import json
import time
import urllib.parse
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import extract as ex
from ..core.extract import EARTHCUBE_AGENT

try:  # real CDP transport when the cluster ships it; the sandbox does not
    import websocket as _websocket  # websocket-client

    HAS_WEBSOCKET = True
except ImportError:  # pragma: no cover - sandbox path
    _websocket = None
    HAS_WEBSOCKET = False

LIVE_FETCH_SCHEMA = T.StructType(
    [
        T.StructField("source_name", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("position", T.LongType()),
        T.StructField("lane", T.IntegerType()),
        T.StructField("fetch_seq", T.LongType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("fetched_at_ms", T.LongType()),
        T.StructField("elapsed_ms", T.LongType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)

# the S15 contract columns extract_and_process consumes. In live mode
# `text` is null UNLESS the headless fallback fired (0 static docs +
# HeadlessWait >= 0 + a renderer configured), in which case it carries
# the post-JS rendered DOM — the downstream S30 text fallback then
# extracts from it exactly as it does for the pages-table text column.
CONTRACT_COLS = ["source_name", "url", "position", "html", "text", "content_type"]


_MAX_REDIRECTS = 10  # Go http.Client's default CheckRedirect limit


def _request_once(conns: dict, target_url: str, headers: dict[str, str],
                  timeout_s: float):
    """One GET over a cached keep-alive connection; one transparent
    reconnect when a pooled socket went stale (server-side keep-alive
    close between requests — indistinguishable from the reference's
    http.Client silently re-dialing). Returns (status, headers_obj,
    body, error)."""
    parsed = urllib.parse.urlsplit(target_url)
    key = (parsed.scheme, parsed.netloc)
    path = parsed.path or "/"
    if parsed.query:
        path += "?" + parsed.query
    last_err = None
    for _attempt in (0, 1):
        conn = conns.get(key)
        fresh = conn is None
        if fresh:
            cls = (
                http.client.HTTPSConnection
                if parsed.scheme == "https"
                else http.client.HTTPConnection
            )
            conn = cls(parsed.netloc, timeout=timeout_s)
            conns[key] = conn
        try:
            conn.request("GET", path, headers=headers)
            resp = conn.getresponse()
            body = resp.read()
            return resp.status, resp, body, None
        except Exception as e:  # noqa: BLE001 - transport errors skip the URL
            conn.close()
            conns.pop(key, None)
            last_err = f"{type(e).__name__}: {e}"
            if fresh:
                break  # a fresh connection failing is a real error, not staleness
    return None, None, None, last_err


def _fetch_one(conns: dict, target_url: str, headers: dict[str, str],
               timeout_s: float):
    """GET following redirects like Go's http.Client (the reference's
    client.Do follows 3xx transparently up to 10 hops — a crawler
    that records the 301 stub body instead of the target page would
    silently harvest nothing from canonical-redirect sources).
    Returns (status, content_type, body, error) of the FINAL
    response. Go's default CheckRedirect refuses once 10 requests are
    on the via chain, so a chain needing an 11th request errors: at
    most _MAX_REDIRECTS requests total, same boundary here."""
    url = target_url
    for _hop in range(_MAX_REDIRECTS):
        status, resp, body, err = _request_once(conns, url, headers, timeout_s)
        if err is not None:
            return None, None, None, err
        if status in (301, 302, 303, 307, 308):
            loc = resp.getheader("Location")
            if loc:
                url = urllib.parse.urljoin(url, loc)
                continue
        return status, resp.getheader("Content-Type"), body, None
    return None, None, None, f"stopped after {_MAX_REDIRECTS} redirects"


# ---------------------------------------------------------------------------
# Headless render swap-point (S30 in live mode, VERDICT r4 #3)
# ---------------------------------------------------------------------------
#
# The reference falls back to a CDP Chrome render when static extraction
# finds 0 JSON-LD docs and the source's HeadlessWait >= 0
# (acquire.go:194-203 → headless.go:111-357): navigate, wait for the
# load + DOMContentLoaded events, then poll in-page JS for
# script[type^="application/ld+json"] innerTexts with retries, failing
# silently when nothing appears. Here the rendered result rides the
# ``text`` column of the live-fetch output, so the UNCHANGED downstream
# S30 text fallback (extract_and_process → extract_from_text_fallback)
# extracts the injected docs byte-identically — one fallback code path
# for both pages mode and live mode.
#
# ``renderer`` contract: ``(target_url, wait_s) -> str | None`` — the
# post-JS DOM serialized as HTML (or the rendered scripts wrapped via
# ``rendered_docs_to_text``), or None when the page never produced
# JSON-LD / the render failed (the reference logs and continues,
# acquire.go:199-201 — the URL still flows onward with 0 docs).
# ``cdp_renderer`` is the real implementation, import-guarded exactly
# like the media codecs (operators/multimodal.py): it needs the
# ``websocket-client`` package plus a headless Chrome endpoint, neither
# of which exists in this sandbox, so tests inject stub renderers.

_RENDER_RETRIES = 3  # headless.go:152 retries := 3


def rendered_docs_to_text(docs: list[str]) -> str:
    """Wrap rendered JSON-LD strings as a minimal HTML document whose
    re-extraction is exact: a browser's script.innerText can never
    contain ``</script>`` (the HTML parser would have closed the
    element there), so embed-then-extract is byte-identical."""
    scripts = "".join(
        f'<script type="application/ld+json">{d}</script>' for d in docs
    )
    return f"<html><head>{scripts}</head><body></body></html>"


def cdp_renderer(
    devtools_url: str,
    timeout_s: float = 60.0,
    retries: int = _RENDER_RETRIES,
) -> Callable[[str, int], str | None]:
    """Real headless path: a renderer driving Chrome over the DevTools
    protocol at ``devtools_url`` (the reference's ``summoner.headless``
    config value, e.g. ``http://localhost:9222`` —
    headless.go:184-188). Per URL: create/attach a page target,
    ``Page.navigate``, await the load + DOMContentLoaded events, then
    ``Runtime.evaluate`` (awaitPromise) a polling expression that
    resolves the innerTexts of ``script[type^="application/ld+json"]``
    elements, retrying ``retries`` times ``wait_s`` apart
    (headless.go:252-311). Rejection fails silently → None, mirroring
    the reference's "we simply do not index a document" comment.

    Import-guarded like the media codecs: raises at CONSTRUCTION when
    the websocket transport is unavailable, so a misconfigured cluster
    fails fast instead of per-URL inside executors."""
    if not HAS_WEBSOCKET:
        raise RuntimeError(
            "cdp_renderer requires the 'websocket-client' package and a "
            "headless Chrome at the devtools endpoint; install both or "
            "pass a custom renderer callable"
        )

    poll_js = """
new Promise((resolve, reject) => {
  const attempt = (left) => {
    const out = [];
    document.querySelectorAll('script[type^="application/ld+json"]')
      .forEach((el) => { if (el && el.innerText) out.push(el.innerText); });
    if (out.length) resolve(out);
    else if (left <= 0) reject('No JSON-LD present');
    else setTimeout(() => attempt(left - 1), %(wait_ms)d);
  };
  attempt(%(retries)d);
})
"""

    def _rpc(ws, id_counter: list[int], method: str, **params):
        id_counter[0] += 1
        ws.send(json.dumps({"id": id_counter[0], "method": method,
                            "params": params}))
        events = []
        while True:  # responses interleave with events on one socket
            msg = json.loads(ws.recv())
            if msg.get("id") == id_counter[0]:
                return msg, events
            events.append(msg)

    def render(target_url: str, wait_s: int) -> str | None:
        base = devtools_url.rstrip("/")
        # PUT /json/new (Chrome >= 111 rejects GET); target carries its
        # own websocket URL (devtool.Create analog, headless.go:190-196)
        parsed = urllib.parse.urlsplit(base)
        conn = http.client.HTTPConnection(parsed.netloc, timeout=timeout_s)
        try:
            conn.request("PUT", "/json/new")
            target = json.loads(conn.getresponse().read())
        finally:
            conn.close()
        ws = _websocket.create_connection(
            target["webSocketDebuggerUrl"], timeout=timeout_s
        )
        ids = [0]
        try:
            _rpc(ws, ids, "Page.enable")
            _, events = _rpc(ws, ids, "Page.navigate", url=target_url)
            waiting = {"Page.loadEventFired", "Page.domContentEventFired"}
            waiting -= {e.get("method") for e in events}
            deadline = time.time() + timeout_s
            while waiting and time.time() < deadline:
                msg = json.loads(ws.recv())
                waiting.discard(msg.get("method"))
            expr = poll_js % {
                "wait_ms": max(wait_s, 1) * 1000, "retries": retries,
            }
            resp, _ = _rpc(
                ws, ids, "Runtime.evaluate", expression=expr,
                awaitPromise=True, returnByValue=True,
            )
            result = resp.get("result", {})
            if "exceptionDetails" in result:  # rejected: fail silently
                return None
            docs = result.get("result", {}).get("value") or []
            return rendered_docs_to_text([d for d in docs if d]) if docs else None
        except Exception:  # noqa: BLE001 - render errors never kill the batch
            return None
        finally:
            ws.close()

    return render


def live_fetch_pages(
    frontier: DataFrame,
    accept_by_source: dict[str, str] | None = None,
    user_agent: str = EARTHCUBE_AGENT,
    timeout_s: float = 30.0,
    url_rewrite: Callable[[str], str] | None = None,
    headless_wait_by_source: dict[str, int] | None = None,
    renderer: Callable[[str, int], str | None] | None = None,
) -> DataFrame:
    """Fetch a scheduled frontier over HTTP, one (host, lane) group per
    task. ``frontier`` must carry the S13 schedule columns (lane,
    fetch_seq, delay_ms), as ``build_frontier``'s output does; a
    lane-less frontier degrades to one lane per host."""
    accepts = accept_by_source or {}
    hw = headless_wait_by_source or {}
    emit_rows = 64  # bodies held in memory per yielded frame

    def run(batches):
        # one task = one partition = whole (host, lane) groups in
        # fetch_seq order; bodies are yielded every `emit_rows` fetches
        # so a million-URL lane never accumulates its corpus in the
        # task (the old whole-group applyInPandas buffer would OOM an
        # executor at ~100 KB/body × 10^6 URLs)
        conns: dict = {}
        cur_group = None
        out = {f.name: [] for f in LIVE_FETCH_SCHEMA.fields}
        try:
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    group = (r.host, r.lane)
                    if group != cur_group:
                        # rows arrive sorted by (host, lane): a passed
                        # group never comes back, so close its pool —
                        # open sockets stay bounded by ONE group's
                        # netloc count, not the partition's host count
                        # (thousands of hosts/task would exhaust fds)
                        for c in conns.values():
                            c.close()
                        conns.clear()
                        cur_group = group
                    headers = {
                        "User-Agent": user_agent,
                        "Accept": accepts.get(
                            r.source_name, "application/ld+json, text/html"
                        ),
                    }
                    target = url_rewrite(r.url) if url_rewrite else r.url
                    t0 = time.time()
                    status, ctype, body, err = _fetch_one(
                        conns, target, headers, timeout_s
                    )
                    # headless fallback (S30 live, acquire.go:194-203):
                    # 0 static docs + HeadlessWait >= 0 ⇒ re-render; the
                    # rendered DOM rides `text` so downstream extraction
                    # picks it up via the unchanged text fallback. Render
                    # failures log-and-continue (the URL proceeds with 0
                    # docs, exactly the reference's silent-fail path).
                    text = None
                    render_err = None
                    if (
                        renderer is not None
                        and err is None
                        and hw.get(r.source_name, 0) >= 0
                        and not ex.find_jsonld_in_page(r.url, ctype, body)
                    ):
                        try:
                            text = renderer(target, hw.get(r.source_name, 0))
                        except Exception as re_err:  # noqa: BLE001
                            # annotate, but the fetch stays ok=True: the
                            # reference's PageRenderAndUpload error is
                            # logged and the URL proceeds (acquire.go:199)
                            render_err = (
                                f"headless_render: {type(re_err).__name__}: {re_err}"
                            )
                    t1 = time.time()
                    out["source_name"].append(r.source_name)
                    out["host"].append(r.host)
                    out["url"].append(r.url)  # logical url, rewrite-invariant
                    out["position"].append(r.position)
                    out["lane"].append(int(getattr(r, "lane", 0) or 0))
                    out["fetch_seq"].append(int(getattr(r, "fetch_seq", 0) or 0))
                    out["html"].append(body)
                    out["text"].append(text)
                    out["content_type"].append(ctype)
                    out["status"].append(status)
                    out["fetched_at_ms"].append(int(t0 * 1000))
                    out["elapsed_ms"].append(int((t1 - t0) * 1000))
                    out["ok"].append(err is None)
                    out["error"].append(err if err is not None else render_err)
                    delay = int(getattr(r, "delay_ms", 0) or 0)
                    if delay > 0:
                        # sleep after each completion, success or not
                        # (acquire.go:210 runs unconditionally)
                        time.sleep(delay / 1000.0)
                    if len(out["url"]) >= emit_rows:
                        yield pd.DataFrame(out)
                        out = {f.name: [] for f in LIVE_FETCH_SCHEMA.fields}
            if out["url"]:
                yield pd.DataFrame(out)
        finally:
            for c in conns.values():
                c.close()

    cols = ["source_name", "host", "url", "position", "delay_ms"]
    cols += [c for c in ("lane", "fetch_seq") if c in frontier.columns]
    grouped = frontier.select(*cols)
    if "lane" not in frontier.columns:
        grouped = grouped.withColumn("lane", F.lit(0))
    if "fetch_seq" not in grouped.columns:
        # long, never int: position can exceed 2^31 at frontier scale
        # and an int32 wrap would reverse the in-lane crawl order
        grouped = grouped.withColumn(
            "fetch_seq", F.col("position").cast("long")
        )
    # hash-partition by (host, lane): a group never splits, so lane
    # concurrency == thread budget still holds; groups sharing a
    # partition just serialize (politeness-safe, never over-parallel)
    grouped = grouped.repartition("host", "lane").sortWithinPartitions(
        "host", "lane", "fetch_seq"
    )
    return grouped.mapInPandas(run, LIVE_FETCH_SCHEMA)
