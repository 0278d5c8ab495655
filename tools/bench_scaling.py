"""Two-cluster-size scaling evidence (north rule).

No real cluster exists in this sandbox, so per the driver protocol we
run the SAME harvest job on the SAME pre-generated input at two
parallelism levels in fresh JVMs, and report throughput at both plus
efficiency = (median rate_4N / median rate_N) / 4.

Choice of N (SCALING_N): default 2, so 4N=8 stays inside the linear
region of a shared box whose aggregate capacity flattens well before
its advertised vCPU count; on a box with fewer than 8 CPUs the
default drops to a quarter of them, since each level is pinned to
exactly N / 4N CPUs. Two multiprocessing probes (CPU-bound and
memory-bound) measure what the hardware itself delivers over the same
window; their results are written into BENCH/BASELINE.md next to the
job's efficiency.

Every sample counts: no idle gate, no contention canary, no sample
exclusion. Levels are interleaved so slow drift on a shared host hits
both alike, and the median of all samples per level is the estimator.

Writes BENCH/BASELINE.md. Usage:
    python tools/bench_scaling.py [n_pages] [runs]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_CORES = int(os.environ.get("SCALING_N", str(min(2, max(1, (os.cpu_count() or 8) // 4)))))
N4_CORES = 4 * N_CORES


def _burn(_):
    t = time.time()
    x = 0
    while time.time() - t < 1.0:
        x += 1
    return x


def _burn_mem(_):
    """Memory-bandwidth-bound worker: strided sum over a 64 MB buffer
    (DRAM-streaming, defeats caches)."""
    import numpy as np

    arr = np.arange(8 * 1024 * 1024, dtype=np.uint64)
    t = time.time()
    n = 0
    while time.time() - t < 1.5:
        arr[::8].sum()
        n += 1
    return n


def capacity_probe(fn=_burn, levels=(1, 2, 4, 8, 16, 32)) -> dict[int, float]:
    """Aggregate parallel capacity (work units relative to 1 proc) for
    a given worker kernel. The CPU kernel (register busy-loop) shows
    the core-count ceiling; the memory kernel shows the shared-DRAM
    ceiling — a data pipeline lands between them, and on a shared box
    the two can diverge sharply."""
    out = {}
    base = None
    for n in levels:
        with mp.Pool(n) as p:
            r = p.map(fn, range(n))
        if base is None:
            base = sum(r) / len(r)
        out[n] = round(sum(r) / base, 2)
    return out


def generate_corpus(n_pages: int) -> str:
    # v3: corpus gained identifier-sharing pages (round 3) — don't
    # reuse a stale round-2 parquet
    corpus_dir = os.path.join(tempfile.gettempdir(), f"gleaner-scaling-corpus-v3-{n_pages}")
    if os.path.isdir(corpus_dir) and os.listdir(corpus_dir):
        return corpus_dir
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from gleaner_spark.session import build_session
from gleaner_spark.sources import corpus
spark = build_session("gen")
spark.sparkContext.setLogLevel("ERROR")
corpus.build_pages(spark, {n_pages}, partitions=64).write.mode("overwrite").parquet({corpus_dir!r})
"""
    subprocess.run([sys.executable, "-c", code], check=True, cwd=REPO)
    return corpus_dir


def run_once(cpus: int, n_pages: int, corpus_dir: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
        BENCH_HARVEST_PAGES=str(n_pages),
        BENCH_CORPUS_DIR=corpus_dir,
        BENCH_HARVEST_ONLY="1",
        # one timed harvest per sample: the samples of a level are the
        # interleaved rounds here, not repeats inside bench.py
        BENCH_HARVEST_RUNS="1",
    )
    # pin the whole process tree (JVM task threads, GC/shuffle/IO
    # helpers, python workers) to exactly `cpus` CPUs: unpinned,
    # local[N]'s helper threads free-ride on the other idle cores,
    # inflating the small-N baseline and understating true scaling —
    # a real N-core executor gives them no such spare cores
    out = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "bench.py"],
        env=env, cwd=REPO, capture_output=True, text=True, check=True,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    # always probe the actual N/4N window: a non-default SCALING_N
    # must not fall through to a fabricated ceiling
    probe = capacity_probe(
        levels=tuple(sorted({1, 2, 4, 8, 16, 32, N_CORES, N4_CORES})))
    mem_probe = capacity_probe(
        _burn_mem, levels=tuple(sorted({1, 2, 4, 8, N_CORES, N4_CORES})))
    corpus_dir = generate_corpus(n_pages)
    raw_log = os.path.join(REPO, "BENCH", "scaling_raw.jsonl")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)

    results: dict[int, list[dict]] = {N_CORES: [], N4_CORES: []}
    # warmup (one per level) + timed runs, interleaved for fairness
    for cpus in (N_CORES, N4_CORES):
        run_once(cpus, n_pages, corpus_dir)
    for i in range(runs):
        for cpus in (N_CORES, N4_CORES):
            r = run_once(cpus, n_pages, corpus_dir)
            results[cpus].append(r)
            with open(raw_log, "a") as f:
                f.write(json.dumps({
                    "n_pages": n_pages, "cpus": cpus, "run": i,
                    "docs_per_sec": r["docs_per_sec"],
                    "harvest_s": r["queries"]["harvest"],
                }) + "\n")
            print(f"[scaling] run {i} local[{cpus}]: {r['docs_per_sec']} u/s",
                  flush=True)

    med = {
        cpus: statistics.median(r["docs_per_sec"] for r in rs)
        for cpus, rs in results.items()
    }
    harvest_med = {
        cpus: statistics.median(r["queries"]["harvest"] for r in rs)
        for cpus, rs in results.items()
    }
    eff = (med[N4_CORES] / med[N_CORES]) / 4.0
    # the machine's own ceilings over the same N→4N window (a data
    # pipeline cannot scale past the DRAM bus)
    mem_ceiling = mem_probe[N4_CORES] / mem_probe[N_CORES]
    cpu_ceiling = probe[N4_CORES] / probe[N_CORES]
    eff_vs_ceiling = (med[N4_CORES] / med[N_CORES]) / mem_ceiling

    lines = [
        "# BENCH/BASELINE.md — scaling evidence (N vs 4N)",
        "",
        "Protocol (per BASELINE.md): identical harvest job, identical",
        f"pre-generated corpus ({n_pages} pages, parquet on disk), fresh JVM per",
        "run pinned with taskset to exactly N / 4N CPUs (so JVM helper",
        "threads can't free-ride on idle cores, as they couldn't on a real",
        f"N-core executor), 1 warmup + {runs} timed runs per level,",
        "interleaved. Work unit = URLs fetched + JSON-LD docs extracted (the",
        "BASELINE.json metric); wall time covers fetch-join + extract +",
        "fixup + dedup + documents/prov/metrics writes; session startup,",
        "frontier build and corpus generation excluded. No run waits for",
        "an idle host and no sample is excluded: the estimator is the",
        "median of all samples per level.",
        "",
        "| cluster size | cores | median harvest s | median units/s |",
        "|---|---|---|---|",
        f"| N  | local[{N_CORES}]  | {harvest_med[N_CORES]:.2f} | {med[N_CORES]:.1f} |",
        f"| 4N | local[{N4_CORES}] | {harvest_med[N4_CORES]:.2f} | {med[N4_CORES]:.1f} |",
        "",
        f"**Scaling efficiency (medians) = ({med[N4_CORES]:.1f} / {med[N_CORES]:.1f}) / 4 = {eff:.3f}**",
        f"(target >= 0.8: {'PASS' if eff >= 0.8 else 'FAIL'})",
        "",
        f"**Machine-ceiling-relative efficiency = {med[N4_CORES]/med[N_CORES]:.2f}x job scaling ÷ "
        f"{mem_ceiling:.2f}x DRAM-bandwidth ceiling = {eff_vs_ceiling:.3f}** — a",
        "data pipeline cannot scale past the memory bus it shares, while a",
        "real 4N-executor cluster multiplies DRAM channels with nodes.",
        f"(CPU-bound ceiling over the same window, for contrast: {cpu_ceiling:.2f}x.)",
        "",
        f"## The machine's two ceilings over N={N_CORES} → 4N={N4_CORES}",
        "",
        "Two multiprocessing probes, run in the same session as the",
        "samples, measure what the hardware delivers, as aggregate work",
        "relative to 1 worker:",
        "",
        "| workers | CPU-bound (busy-loop) | memory-bound (64MB strided sum) |",
        "|---|---|---|",
    ]
    for n in (1, 2, 4, 8, 16, 32):
        lines.append(f"| {n} | {probe.get(n, '')} | {mem_probe.get(n, '—')} |")
    lines += [
        "",
        "A harvest pipeline moves every page through parquet decode →",
        "shuffle → Arrow → python string processing → parquet encode, so",
        "it is bandwidth-bound and tracks the memory curve more than the",
        "CPU curve. The job is identical at both levels: same plan, same",
        "partitioning (2x defaultParallelism url_hash buckets after the",
        "fetch join), no driver-side row loops.",
        "",
        "Caveat: both 'clusters' share one machine and one local[k] JVM;",
        "this evidences the job's parallel-scaling shape (no serial driver",
        "bottleneck, shuffle-light plan, uniform bucketing), not network/IO",
        "behavior of a real multi-executor deployment.",
        "",
        "Raw runs (docs_per_sec, in run order):",
        f"- local[{N_CORES}]:  {[r['docs_per_sec'] for r in results[N_CORES]]}",
        f"- local[{N4_CORES}]: {[r['docs_per_sec'] for r in results[N4_CORES]]}",
        "",
    ]
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))
    print("wrote", path)


if __name__ == "__main__":
    main()
