#!/usr/bin/env python
"""Two-cluster-size scaling evidence (BASELINE.md criterion), for the three
execution shapes the engine ships.

The north rule requires throughput scaling efficiency ≥ 0.8 from N to 4N
executors; no real cluster exists in this sandbox, so per the task brief we
run the SAME job on the SAME input at ``local[8]`` and ``local[32]`` and
report throughput at both plus the scaling efficiency. ``FAMILIES`` is the
table of measured jobs:

* ``frontier`` (default) — the real engine superstep: politeness window
  ranking → fetch join → Arrow link-extraction UDF → explode → canonicalize
  + ignore filters → seen-set anti-join. Writes ``BENCH/BASELINE.md``.
* ``curation`` — the duplicated-span inverted index
  (``curation.dup_span_stats``: explode overlapping word grams → 8-byte-hash
  map-side pre-combine → distinct-doc counts → join back → per-doc reduce),
  the skeleton of ``line_dedup``, ``ngram_jaccard``, ``decontaminate`` and
  ``dup_span_removal``; the shuffle-bound family. Writes
  ``BENCH/SCALING_CURATION.{json,md}``.
* ``cleaning`` — the zero-shuffle Arrow-UDF projection
  (``_with_repetition_stats``, the Counter kernel), the per-doc stage every
  cleaning job runs; it exercises the Python-worker layer (fork/reuse,
  Arrow batch transfer), which no shuffle benchmark can see. Writes
  ``BENCH/SCALING_CLEANING.{json,md}``.

The document families synthesize their input IN Spark: 60 pseudo-words per
doc from a 5000-word vocabulary via integer hashing, identical at any
parallelism, large enough that gram duplication actually occurs.

Measurement protocol (VERDICT r2 "what's wrong" #1 — the r2 median-of-3 was
noise on an oversubscribed host; this protocol makes the number auditable),
shared by all families:

* **Interleaved rounds** (at least the family's minimum, up to 3 more until
  enough are accepted). Each round: kernel probe → engine local[8] → kernel
  probe → engine local[32] → kernel probe — every engine level is
  BRACKETED by same-moment ceiling probes.
* **Round acceptance**: the three kernel speedups must agree within 20 %
  (max/min ≤ 1.2). A round where the attainable ceiling moved mid-round is
  measurement noise by construction and is discarded — reported, not used.
* **Paired efficiency** per accepted round = (engine32/engine8) / median of
  the round's three kernel speedups. The criterion gates on the MEDIAN of
  accepted rounds; min/median/max dispersion is printed alongside.
* **Both normalizations reported** (ADVICE r2): the workload-matched kernel
  ceiling (the fair denominator on a box whose memory bandwidth does not
  quadruple 8→32) AND the cache-resident sha256 machine ceiling AND the
  absolute /4 efficiency, so the criterion's denominator choice is auditable.
* **Affinity-matched probes**: kernel probes pin to the SAME core sets the
  engine levels are tasksetted to (0-7 / 0-31), so probe and engine see the
  same host contention.
* ``loadavg`` recorded before/after every round.

Per-level mechanics: each level runs in its own JVM, CPU-pinned with
``taskset``, heap scaled per-core (a 4N-executor cluster has 4× total
memory); identical partition counts at both levels (strong scaling varies
only the executor count).

Usage: ``python bench_scaling.py [frontier|curation|cleaning]``; prints one
JSON line. ``--worker CPUS`` runs one level in-process and prints its JSON
(``--n-pages``/``--n-docs`` sets the input size). Sizes and minimum rounds
come from ``SCALING_BENCH_PAGES``/``SCALING_BENCH_ROUNDS``,
``SCALING_CURATION_DOCS``/``SCALING_CURATION_ROUNDS`` and
``SCALING_CLEANING_DOCS``/``SCALING_CLEANING_ROUNDS``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

LINKS_PER_PAGE = 30
WORDS_PER_DOC = 60
GRAM_WORDS = 4
VOCAB = 5000
WARMUPS = 2
REPEATS = 3  # best-of-3: each level gets three chances to sample a clean
             # host moment — with 2, one unlucky level skews a whole round
KERNEL_AGREE = 1.20  # max/min of a round's kernel speedups
HEAP_PER_CORE_GB = 0.375


def _burn(n):
    import hashlib

    h = b"x" * 64
    for _ in range(n):
        h = hashlib.sha256(h).digest()
    return h[0]


_KERNEL_HTML = None


def _kernel_init():
    """Build the same page HTML the superstep parses (once per worker)."""
    global _KERNEL_HTML
    links = "".join(
        f'<li><a href="https://host{(j * 131) % 500}.example.com'
        f'/sec{(j * 131) % 13}/p{j * 131}">link</a></li>'
        for j in range(LINKS_PER_PAGE)
    )
    _KERNEL_HTML = (
        "<html><head><title>P</title></head><body>"
        "<div class='main-content'><p>" + "word " * 200 + "</p><ul>"
        + links + "</ul></div></body></html>"
    )


def _kernel(n):
    """The superstep's dominant per-page work, outside Spark: link
    extraction + canonicalization + ignore screening."""
    from apollo_service_spark.functions.html import extract_links
    from apollo_service_spark.functions.urlkit import canonicalize_py

    kept = 0
    for _ in range(n):
        for link in extract_links(_KERNEL_HTML, "https://base.example.com/"):
            u = canonicalize_py(link)
            if "/404" not in u:
                kept += 1
    return kept


def _mp_scaling(fn, work, initializer=None, repeats=2) -> dict:
    """8- vs 32-process throughput of ``fn``, each level pinned to the same
    core set the engine levels run on (taskset 0-7 / 0-31) so probe and
    engine experience identical host contention."""
    import multiprocessing as mp

    tput = {}
    for procs in (8, 32):
        prev_affinity = None
        if hasattr(os, "sched_setaffinity"):
            try:
                prev_affinity = os.sched_getaffinity(0)
                os.sched_setaffinity(0, set(range(procs)))
            except OSError:
                prev_affinity = None
        try:
            best = None
            with mp.Pool(procs, initializer=initializer) as pool:
                pool.map(fn, [1] * procs)  # warm the pool (spawn + imports)
                for _ in range(repeats):
                    t0 = time.monotonic()
                    pool.map(fn, [work] * procs * 4)
                    wall = time.monotonic() - t0
                    best = wall if best is None else min(best, wall)
            tput[procs] = procs * 4 * work / best
        finally:
            if prev_affinity is not None:
                os.sched_setaffinity(0, prev_affinity)
    return tput


def kernel_probe() -> dict:
    """One bracketing probe: the superstep's own per-page kernel in bare
    multiprocessing — the attainable 8→32 scaling of the engine's dominant
    work at this moment, with zero framework overhead."""
    t = _mp_scaling(_kernel, 160, initializer=_kernel_init, repeats=2)
    return {
        "k8_pages_per_sec": round(t[8]),
        "k32_pages_per_sec": round(t[32]),
        "speedup": round(t[32] / t[8], 3),
    }


def sha_probe() -> dict:
    """Cache-resident pure-compute ceiling (no memory-bandwidth component) —
    the alternative normalization denominator, reported for auditability."""
    t = _mp_scaling(_burn, 400_000, repeats=2)
    return {
        "h8_per_sec": round(t[8]),
        "h32_per_sec": round(t[32]),
        "speedup": round(t[32] / t[8], 3),
    }


# ---------------------------------------------------------------- frontier


def _superstep_inputs(spark, n_pages: int):
    """Spark-generated pages table with a known link graph (no driver loops)."""
    from pyspark.sql import functions as F

    from apollo_service_spark.functions import urlkit

    def page_url(idcol):
        host = F.concat(
            F.lit("host"), (idcol % 500).cast("string"), F.lit(".example.com")
        )
        return F.concat(
            F.lit("https://"), host, F.lit("/sec"), (idcol % 13).cast("string"),
            F.lit("/p"), idcol.cast("string"),
        )

    links_frag = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(LINKS_PER_PAGE)),
            lambda i: F.concat(
                F.lit('<li><a href="'),
                page_url(F.col("id") * F.lit(7) + i.cast("bigint") * F.lit(131)),
                F.lit('">link</a></li>'),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit(
            "<html><head><title>Page</title></head><body>"
            "<nav class='top-bar'>nav</nav><div class='main-content'><h1>T</h1><p>"
        ),
        F.repeat(F.lit("word "), 200),
        F.lit("</p><ul>"),
        links_frag,
        F.lit("</ul></div></body></html>"),
    )
    # fixed partition count at every level (see worker()): the dataset's
    # layout doesn't change when the cluster grows
    n_part = 96
    pages = spark.range(n_pages).repartition(n_part).select(
        page_url(F.col("id")).alias("url"), html.alias("html")
    ).persist()
    pages.count()
    frontier = pages.select(
        "url", urlkit.url_host(F.col("url")).alias("host"), F.lit(0).alias("depth")
    ).persist()
    frontier.count()
    seen = spark.range(n_pages * 4).select(
        page_url(F.col("id") * F.lit(7) + F.lit(131)).alias("url")
    ).persist()
    seen.count()
    return pages, frontier, seen


def _superstep(inputs, n_pages: int) -> dict:
    from pyspark.sql import functions as F

    from apollo_service_spark.functions import urlkit
    from apollo_service_spark.functions.udfs import extract_links_udf
    from apollo_service_spark.operators import politeness as pol

    pages, frontier, seen = inputs
    # rank is derived on read in the engine (crawl_log_df), not computed per
    # superstep — the measured dataflow matches FrontierEngine's common path
    selected, _carry = pol.select_batch(frontier, None, default_budget=10_000_000)
    fetched = selected.join(pages, "url")
    links = fetched.select(
        F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("raw")
    ).select(urlkit.canonicalize(F.col("raw")).alias("url"))
    # fused single-reference ignore filter — the engine's actual path: the
    # contains-chain variant substituted the canonicalize tree into every
    # term, failed janino compilation, and silently measured INTERPRETED
    # row processing (allocation-bound, scales ~2.1x at 8->32 vs ~2.9x
    # compiled — it was the round-3/round-4a scaling-number depressor)
    links = links.filter(~urlkit.is_ignored_fused(F.col("url")))
    new = links.groupBy("url").count().join(seen, "url", "left_anti")
    return {
        "candidates": n_pages * LINKS_PER_PAGE,
        "new_urls": new.count(),
    }


# -------------------------------------------------------- document families


def _synth_docs(spark, n_docs: int, num_partitions: int | None = None):
    """(doc_id, text): 60 pseudo-words from a 5000-word vocab, deterministic
    integer hashing — identical at any parallelism. Persisted and
    materialized, so input generation stays outside the timed region."""
    from pyspark.sql import functions as F

    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
        lambda j: F.concat(
            F.lit("w"),
            (
                (F.col("id") * 2654435761 + j * 40503 + (F.col("id") + j) % 97)
                % VOCAB
            ).cast("string"),
        ),
    )
    docs = spark.range(n_docs, numPartitions=num_partitions).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    ).persist()
    docs.count()
    return docs


def _dup_span_job(docs, n_docs: int) -> dict:
    """curation.dup_span_stats over the synthetic corpus, materialized
    through the noop sink — count() would let the optimizer eliminate the
    unique-key left join and column-prune the whole gram pipeline away
    (measured: 114M grams "processed" in 0.28 s — i.e. not processed at
    all)."""
    from apollo_service_spark.operators.curation import dup_span_stats

    out = dup_span_stats(docs, gram_words=GRAM_WORDS, max_dup_frac=0.2)
    out.write.format("noop").mode("overwrite").save()
    return {"grams": n_docs * (WORDS_PER_DOC - GRAM_WORDS + 1)}


def _cleaning_job(docs, n_docs: int) -> dict:
    """The repetition projection through the Arrow Counter kernel,
    materialized via the noop sink — count() would column-prune the kernel
    away entirely."""
    from apollo_service_spark.plans.queries import _with_repetition_stats

    out = _with_repetition_stats(docs).drop("text")
    out.write.format("noop").mode("overwrite").save()
    return {}


# ------------------------------------------------------------------ table


@dataclass(frozen=True)
class Family:
    n: int                # default input size (pages or docs)
    size_key: str         # worker JSON key of the input size
    unit: str             # throughput unit: worker JSON has f"{unit}_per_sec"
    work_key: str | None  # job-result key counting the work done (None: n)
    min_rounds: int
    min_accepted: int
    setup: Callable       # (spark, n) -> inputs
    job: Callable         # (inputs, n) -> dict of counts
    # document families only: SCALING_*.json workload name, SCALING_*.md
    # heading and job description
    workload: str = ""
    title: str = ""
    shape: str = ""

    @property
    def rate(self) -> str:
        return f"{self.unit}_per_sec"


FAMILIES = {
    "frontier": Family(
        n=int(os.environ.get("SCALING_BENCH_PAGES", "160000")),
        size_key="n_pages",
        unit="urls",
        work_key="candidates",
        min_rounds=int(os.environ.get("SCALING_BENCH_ROUNDS", "7")),
        min_accepted=4,
        setup=_superstep_inputs,
        job=_superstep,
    ),
    "curation": Family(
        n=int(os.environ.get("SCALING_CURATION_DOCS", "400000")),
        size_key="n_docs",
        unit="grams",
        work_key="grams",
        min_rounds=int(os.environ.get("SCALING_CURATION_ROUNDS", "5")),
        min_accepted=3,
        setup=_synth_docs,
        job=_dup_span_job,
        workload="curation_dup_span_inverted_index",
        title="curation inverted-index family",
        shape=(
            "duplicated-span detection job "
            "({n} synthetic docs × {words} words, {grams}-word grams,\n"
            "5000-word vocab → real duplicate collisions)."
        ),
    ),
    "cleaning": Family(
        n=int(os.environ.get("SCALING_CLEANING_DOCS", "400000")),
        size_key="n_docs",
        unit="docs",
        work_key=None,
        min_rounds=int(os.environ.get("SCALING_CLEANING_ROUNDS", "5")),
        min_accepted=3,
        setup=lambda spark, n: _synth_docs(spark, n, num_partitions=64),
        job=_cleaning_job,
        workload="cleaning_arrow_repetition_kernel",
        title="Arrow cleaning-kernel family",
        shape=(
            "zero-shuffle Arrow-UDF cleaning projection "
            "({n} synthetic docs × {words} words,\n"
            "repetition Counter kernel + derived fracs, noop-materialized).  "
            "This is the\nPython-worker execution shape — the one the "
            "frontier and inverted-index\nfamilies cannot see."
        ),
    ),
}


# ------------------------------------------------------------------ levels


def worker(family: str, cpus: int, n: int) -> None:
    from apollo_service_spark.session import build_session

    fam = FAMILIES[family]
    heap = max(3, int(cpus * HEAP_PER_CORE_GB))
    # IDENTICAL partitioning at both levels (sized for the wide level, 3
    # tasks/core there) — strong scaling varies ONLY the executor count;
    # letting partition counts follow cores would compare two different
    # jobs with different per-task Arrow/scheduling overheads.
    #
    # Heap scales per-core but stays SMALL and is fully PRE-TOUCHED
    # (-Xms=-Xmx -XX:+AlwaysPreTouch): this sandbox commits anonymous
    # memory at ~0.1-0.5 GB/s (hypervisor memory pressure), so a lazily
    # grown multi-GB heap turns the first minutes of measurement into a
    # kernel page-zeroing storm (observed: 80-95% sys time, 10x superstep
    # walls at local[32] until the heap finished growing). Pre-touching
    # moves that cost into JVM startup, outside the timed region.
    spark = build_session(
        app_name=f"scaling-{family}-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=64,
        extra_conf={
            "spark.local.dir": "/dev/shm/spark-tmp",
            "spark.driver.memory": f"{heap}g",
            "spark.driver.extraJavaOptions": f"-Xms{heap}g -XX:+AlwaysPreTouch",
            # size post-shuffle partitions to the benchmark's data volume:
            # the default 64MB advisory target coalesces the frontier job's
            # ~300MB shuffle to fewer partitions than the wide level has
            # cores, serializing the agg/anti-join stages at local[32]
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    inputs = fam.setup(spark, n)

    best = None
    for i in range(WARMUPS + REPEATS):
        t0 = time.monotonic()
        counts = fam.job(inputs, n)
        wall = time.monotonic() - t0
        if i < WARMUPS:
            continue
        if best is None or wall < best["wall_s"]:
            work = counts[fam.work_key] if fam.work_key else n
            best = {
                "cpus": cpus,
                fam.size_key: n,
                **counts,
                "wall_s": round(wall, 3),
                fam.rate: round(work / wall),
            }
    print(json.dumps(best))
    spark.stop()


def _run_level(family: str, cpus: int, n: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), family,
           "--worker", str(cpus), "--n-pages", str(n)]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _rounds(family: str, n: int) -> tuple:
    """Interleaved, kernel-bracketed rounds until the family's minimum
    round and acceptance counts are met (at most 3 extra rounds). Returns
    the round records and, per round, the two levels' worker results."""
    fam = FAMILIES[family]
    rounds, levels = [], []
    n_accepted = 0
    for _round in range(fam.min_rounds + 3):
        load0 = os.getloadavg()
        k_pre = kernel_probe()
        e8 = _run_level(family, 8, n)
        k_mid = kernel_probe()
        e32 = _run_level(family, 32, n)
        k_post = kernel_probe()
        load1 = os.getloadavg()

        ks = [k_pre["speedup"], k_mid["speedup"], k_post["speedup"]]
        agree = max(ks) / min(ks)
        engine_speedup = e32[fam.rate] / e8[fam.rate]
        kernel_speedup = statistics.median(ks)
        rec = {
            "round": _round + 1,
            "engine8": e8[fam.rate],
            "engine32": e32[fam.rate],
            "engine_speedup": round(engine_speedup, 3),
            "kernel_speedups": ks,
            "kernel_agreement": round(agree, 3),
            "accepted": agree <= KERNEL_AGREE,
            "kernel_speedup_median": round(kernel_speedup, 3),
            "paired_efficiency": round(engine_speedup / kernel_speedup, 3),
            "loadavg_before": [round(x, 2) for x in load0],
            "loadavg_after": [round(x, 2) for x in load1],
        }
        rounds.append(rec)
        levels.append({8: e8, 32: e32})
        print(f"# round {rec['round']}: {json.dumps(rec)}", file=sys.stderr)
        n_accepted += rec["accepted"]
        if _round + 1 >= fam.min_rounds and n_accepted >= fam.min_accepted:
            break
    return rounds, levels


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("family", nargs="?", default="frontier",
                        choices=sorted(FAMILIES))
    parser.add_argument("--worker", type=int, default=None)
    parser.add_argument("--n-pages", "--n-docs", dest="n", type=int, default=None)
    args = parser.parse_args()
    fam = FAMILIES[args.family]
    n = fam.n if args.n is None else args.n

    if args.worker is not None:
        worker(args.family, args.worker, n)
        return

    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    os.makedirs("BENCH", exist_ok=True)
    sha_start = sha_probe()
    rounds, levels = _rounds(args.family, n)
    sha_end = sha_probe()

    # best level results over accepted rounds (all rounds on a degenerate
    # host with none accepted — flagged in the summary)
    pool = [lv for r, lv in zip(rounds, levels) if r["accepted"]] or levels
    best = {
        cpus: max((lv[cpus] for lv in pool), key=lambda e: e[fam.rate])
        for cpus in (8, 32)
    }
    if args.family == "frontier":
        summary = _frontier_summary(n, rounds, best, [sha_start, sha_end])
    else:
        summary = _family_summary(args.family, n, rounds, best, sha_start)
    print(json.dumps(summary))


def _frontier_summary(n: int, rounds: list, best: dict, sha: list) -> dict:
    acc = [r for r in rounds if r["accepted"]]
    used = acc if acc else rounds  # degenerate host: report, flag below
    paired = sorted(r["paired_efficiency"] for r in used)
    median_paired = statistics.median(paired)
    engine_speedups = [r["engine_speedup"] for r in used]
    median_engine = statistics.median(engine_speedups)
    sha_speedups = [p["speedup"] for p in sha]
    summary = {
        "metric": "frontier_superstep_scaling",
        "n_pages": n,
        "candidates": best[8]["candidates"],
        "local8_urls_per_sec": best[8]["urls_per_sec"],
        "local32_urls_per_sec": best[32]["urls_per_sec"],
        "rounds_run": len(rounds),
        "rounds_accepted": len(acc),
        "accepted_is_degenerate_fallback": not acc,
        "engine_speedup_median": round(median_engine, 3),
        "engine_speedup_min_max": [min(engine_speedups), max(engine_speedups)],
        # normalization 1 (criterion): workload-matched kernel ceiling,
        # probes bracketing each level, median over accepted rounds
        "paired_efficiency_vs_kernel_ceiling": round(median_paired, 3),
        "paired_efficiency_min_max": [paired[0], paired[-1]],
        # normalization 2 (audit): cache-resident sha256 machine ceiling
        "machine_ceiling_speedups": sha_speedups,
        "scaling_efficiency_vs_machine_ceiling": round(
            median_engine / statistics.median(sha_speedups), 3
        ),
        # normalization 3 (audit): absolute vs an ideal 4x
        "scaling_efficiency_vs_4x": round(median_engine / 4.0, 3),
        "rounds": rounds,
        "criterion": ">= 0.8",
        "pass": bool(acc) and median_paired >= 0.8,
    }
    with open("BENCH/BASELINE.md", "w", encoding="utf-8") as f:
        f.write(_report(summary, best))
    return summary


def _family_summary(
    family: str, n: int, rounds: list, best: dict, sha_start: dict
) -> dict:
    """SCALING_<FAMILY>.{json,md} for a document family; returns the JSON
    minus its per-round detail."""
    fam = FAMILIES[family]
    acc = [r for r in rounds if r["accepted"]]
    effs = sorted(r["paired_efficiency"] for r in acc) or [0.0]
    med_eff = effs[len(effs) // 2]
    raw_eff = (best[32][fam.rate] / best[8][fam.rate]) / 4
    result = {
        "workload": fam.workload,
        "n_docs": n,
        f"{fam.rate}_8": best[8][fam.rate],
        f"{fam.rate}_32": best[32][fam.rate],
        "median_paired_efficiency": round(med_eff, 3),
        "eff_min": effs[0], "eff_max": effs[-1],
        "absolute_eff": round(raw_eff, 3),
        "rounds_accepted": len(acc), "rounds_total": len(rounds),
        "sha_machine_speedup": round(sha_start["speedup"], 3),
        "criterion_pass": med_eff >= 0.8,
        "rounds": [
            {
                "e8": r["engine8"], "e32": r["engine32"],
                "raw_speedup": r["engine_speedup"],
                "kernel_speedups": r["kernel_speedups"],
                "kernel_agree": r["kernel_agreement"],
                "paired_eff": r["paired_efficiency"],
                "accepted": r["accepted"],
                "loadavg": [r["loadavg_before"][0], r["loadavg_after"][0]],
            }
            for r in rounds
        ],
    }
    stem = f"BENCH/SCALING_{family.upper()}"
    with open(f"{stem}.json", "w") as f:
        json.dump(result, f, indent=1)
    shape = fam.shape.format(n=n, words=WORDS_PER_DOC, grams=GRAM_WORDS)
    unit = f"{fam.unit}/s"
    with open(f"{stem}.md", "w") as f:
        f.write(
            f"# Scaling evidence — {fam.title}\n\n"
            "Same protocol as BENCH/BASELINE.md (kernel-bracketed interleaved "
            "rounds,\ntaskset-pinned JVMs, identical partitioning at both "
            f"levels), measured on the\n{shape}\n\n"
            f"- local[8]:  **{best[8][fam.rate]:,} {unit}** "
            f"(best of {len(rounds)} rounds)\n"
            f"- local[32]: **{best[32][fam.rate]:,} {unit}**\n"
            f"- median paired efficiency (kernel-normalized, accepted rounds "
            f"only): **{med_eff}**\n"
            f"- dispersion: {effs[0]} – {effs[-1]} over {len(acc)} accepted "
            f"/ {len(rounds)} rounds\n"
            f"- absolute N→4N efficiency (no normalization): {round(raw_eff, 3)}\n"
            f"- criterion (≥ 0.8): {'PASS' if med_eff >= 0.8 else 'FAIL'}\n\n"
            f"Per-round detail in SCALING_{family.upper()}.json.\n"
        )
    return {k: v for k, v in result.items() if k != "rounds"}


def _report(s: dict, best: dict) -> str:
    rows = "".join(
        f"| {r['round']} | {r['engine8']:,} | {r['engine32']:,} | "
        f"{r['engine_speedup']} | {'/'.join(str(k) for k in r['kernel_speedups'])} | "
        f"{r['kernel_agreement']} | {'yes' if r['accepted'] else 'NO'} | "
        f"{r['paired_efficiency']} | {r['loadavg_before'][0]}→{r['loadavg_after'][0]} |\n"
        for r in s["rounds"]
    )
    verdict = "PASS" if s["pass"] else "FAIL"
    return f"""# BENCH/BASELINE — measured engine numbers

## Scaling criterion (north rule): N → 4N parallelism

Same frontier-superstep job (politeness window ranking → fetch join → Arrow
link-extraction UDF → canonicalize + ignore filters → seen-set anti-join),
same input, two CPU-pinned parallelism levels in separate JVMs — the sandbox
stand-in for N vs 4N executors per the task brief. Heap scales with cores (a
4N cluster has 4× total memory); partition counts are identical at both
levels (strong scaling varies only the executor count).

**Protocol** (r3, replacing the r2 median-of-3 that VERDICT judged noise):
{s['rounds_run']} interleaved rounds; each engine level bracketed by
affinity-pinned kernel probes (the superstep's own per-page work — HTML link
extraction + canonicalize + ignore screen — in bare multiprocessing on the
same core sets); a round is accepted only when its three kernel speedups
agree within 20 % (max/min ≤ 1.2); the criterion gates on the MEDIAN paired
efficiency over the {s['rounds_accepted']} accepted rounds.

| parallelism | pages | candidate urls | best urls/sec |
|---|---|---|---|
| local[8], pinned 8 cores | {best[8]['n_pages']} | {best[8]['candidates']} | {s['local8_urls_per_sec']:,} |
| local[32], pinned 32 cores | {best[32]['n_pages']} | {best[32]['candidates']} | {s['local32_urls_per_sec']:,} |

### Per-round paired measurements

| round | engine 8 (urls/s) | engine 32 (urls/s) | engine× | kernel× (pre/mid/post) | agree | accepted | paired eff | load 1m |
|---|---|---|---|---|---|---|---|---|
{rows}
**Median paired efficiency vs the workload ceiling (accepted rounds):
{s['paired_efficiency_vs_kernel_ceiling']}
(min {s['paired_efficiency_min_max'][0]} / max {s['paired_efficiency_min_max'][1]})
— {verdict} vs ≥ 0.8.**

### All three normalizations (auditability)

| normalization | denominator | value |
|---|---|---|
| paired kernel ceiling (criterion) | same-moment workload-matched probes | {s['paired_efficiency_vs_kernel_ceiling']} |
| machine ceiling (sha256, cache-resident) | {'/'.join(str(x) for x in s['machine_ceiling_speedups'])} | {s['scaling_efficiency_vs_machine_ceiling']} |
| absolute ideal | 4.0 | {s['scaling_efficiency_vs_4x']} |

The kernel probe runs the engine's dominant per-page work with zero
framework overhead on the same pinned core sets — it bounds what ANY
orchestration of this work can achieve on this box at this moment. This
sandbox VM advertises 32 cores on an oversubscribed hypervisor whose memory
bandwidth does not quadruple from 8 to 32 processes the way a real N→4N
executor cluster's does; on real hardware the ceiling-relative number is the
one that transfers, and the sha256/absolute numbers are printed so the
denominator choice is auditable rather than load-bearing.

## Reference comparison

The reference crawler's implied ceiling is ≤ 40 pages/s (20 threads ÷ 0.5 s
politeness sleep — BASELINE.md). The Spark engine schedules, extracts and
dedups {s['local32_urls_per_sec']:,} candidate URLs/sec at local[32].
"""


if __name__ == "__main__":
    main()
