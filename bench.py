#!/usr/bin/env python
"""Headline benchmark: runs the bench-flagged queries from the registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized (count + a cheap deterministic fold) so the
whole plan executes; timings are per-query wall clock after a warm-up pass of
the table scans (the reference's published numbers are warm, in-memory runs —
BASELINE.md / docs/benchmarks.md "best of 3").
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # sf from the dir name, e.g. .../sf0.1
    base = os.path.basename(sf_dir.rstrip("/"))
    m = __import__("re").match(r"sf(\d+(?:\.\d+)?)", base)
    sf = float(m.group(1)) if m else -1.0

    from tensorbase_spark.queries import registry
    from tensorbase_spark.session import get_spark
    from tensorbase_spark.sources.tables import load_tables

    spark = get_spark("tensorbase_bench")

    reg = {name: q for name, q in registry().items() if q.bench}

    # Warm-up: pull every table through the scan once so the OS page cache is
    # hot — parity with the reference's warm methodology (BASELINE.md).
    for df in load_tables(spark, sf_dir).values():
        df.count()
    # Warm the Arrow/pandas-UDF path too: the first Python-UDF stage of a
    # session pays the Python worker-daemon spin-up (~1-2 s); without this,
    # whichever Arrow query happens to run first absorbs it and per-query
    # times aren't attributable round over round.
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _warm(v):
        return v * 1.0

    spark.range(10000).select(_warm(F.col("id").cast("double"))).write.format(
        "noop"
    ).mode("overwrite").save()

    # Best-of-3 per query: the reference's published numbers are warm
    # best-of-3 runs (BASELINE.md, docs/benchmarks.md), and on a shared host
    # min-of-N also filters co-tenant CPU noise (measured: the same 1.2s
    # plan spiked to 30-100s under co-tenant bursts).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    p50s: dict[str, float] = {}
    for name, q in reg.items():
        samples: list[float] = []
        for _ in range(runs):
            # Measurement-hygiene fix (r15, VERDICT r14 "what's wrong" #2):
            # queries that persist() an intermediate (bm25 per-doc table,
            # corpus_build deduped stream, the dedup feature passes)
            # register plans with the CacheManager, so reps 2..N of the
            # same query silently reused rep 1's materialization and
            # best-of-N timed a warm cache (and cached blocks accumulated
            # across the whole bench).  Clearing between reps makes every
            # rep compute from the parquet inputs.  This RAISES the
            # recorded numbers for those queries vs r14's methodology —
            # the old (warm-rep) numbers live in BENCH_r14.json; the delta
            # is the cache, not a plan regression.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            # noop sink materializes EVERY column JVM-side (count() would let
            # Catalyst prune the projections away and under-report).
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[0], 4)
        # p50 alongside best-of-N: round-over-round regressions show in the
        # median even when a lucky best run masks them
        p50s[name] = round(samples[len(samples) // 2], 4)
        print(f"  {name}: best {timings[name]:.3f}s p50 {p50s[name]:.3f}s", file=sys.stderr)

    # Noise calibration (VERDICT r8 #3): a fixed synthetic workload — pure
    # generated data, no I/O, constant plan at every sf — timed the same
    # best-of-N way.  Cross-round comparisons divide by this scale: r7->r8
    # read +22% uniformly across 25 queries including fixed-plan trivial
    # ones, purely from co-tenant load.  ~0.5 s of JVM-side hash agg work.
    cal_samples: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 32).selectExpr(
            "id % 9973 as k", "cast(id % 31 as double) as v"
        ).groupBy("k").agg(
            F.sum("v").alias("s"), F.avg("v").alias("a"), F.count("*").alias("n")
        ).write.format("noop").mode("overwrite").save()
        cal_samples.append(time.perf_counter() - t0)
    cal_samples.sort()
    calibration = {
        "best": round(cal_samples[0], 4),
        "p50": round(cal_samples[len(cal_samples) // 2], 4),
    }

    # I/O-bound calibration probe (VERDICT r10 #2): two rounds' bench
    # inflation (r8 +22%, r10 +8%) came from co-tenant DISK contention
    # that the pure-CPU probe above provably does not capture (it got
    # faster in r10 while data queries got slower).  Fixed-size parquet
    # write + read-back on the repo's filesystem, timed the same
    # best-of-N way, so I/O interference is normalizable not narrated.
    # uuid() makes the string column incompressible (~220 MB on disk).
    import shutil

    io_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench_io_tmp"
    )
    probe = spark.range(0, 6_000_000, 1, 32).selectExpr(
        "id", "cast(id % 1000003 as double) as v", "uuid() as s"
    )
    io_w: list[float] = []
    io_r: list[float] = []
    try:
        for _ in range(runs):
            shutil.rmtree(io_dir, ignore_errors=True)
            t0 = time.perf_counter()
            probe.write.mode("overwrite").parquet(io_dir)
            io_w.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            spark.read.parquet(io_dir).selectExpr(
                "sum(length(s)) as n", "sum(v) as sv"
            ).write.format("noop").mode("overwrite").save()
            io_r.append(time.perf_counter() - t0)
    finally:
        # an aborted probe must not leave ~220 MB behind in the repo
        shutil.rmtree(io_dir, ignore_errors=True)
    io_w.sort()
    io_r.sort()
    calibration["io_write_best"] = round(io_w[0], 4)
    calibration["io_write_p50"] = round(io_w[len(io_w) // 2], 4)
    calibration["io_read_best"] = round(io_r[0], 4)
    calibration["io_read_p50"] = round(io_r[len(io_r) // 2], 4)
    print(f"  _calibration: cpu best {calibration['best']:.3f}s "
          f"p50 {calibration['p50']:.3f}s | io write best "
          f"{calibration['io_write_best']:.3f}s read best "
          f"{calibration['io_read_best']:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 4)

    # Probe-normalized cross-round comparison (VERDICT r11 #5): instead
    # of narrating co-tenant contention after the fact, compare this run
    # against the newest recorded BENCH_r{N}.json at the same sf and
    # flag only the per-query deltas that exceed the noise band the
    # probes themselves imply.  The band is the worst probe swing
    # (cpu / io-write / io-read, both directions) with a 15% floor for
    # best-of-3 sampling noise — a query inside the band moved WITH the
    # box, not because its plan changed.
    vs_prev = None
    prev_name, prev = _latest_recorded_bench(
        os.path.dirname(os.path.abspath(__file__)), sf
    )
    if prev:
        pc = prev.get("calibration", {})
        probe_ratios = {}
        for key in ("best", "io_write_best", "io_read_best"):
            a, b = calibration.get(key), pc.get(key)
            if a and b:
                probe_ratios[key] = round(a / b, 3)
        band = max(
            [max(r, 1.0 / r) for r in probe_ratios.values()] or [1.0]
        )
        band = max(round(band, 3), 1.15)
        flagged = {}
        for name, t in timings.items():
            pt = prev.get("queries", {}).get(name)
            if pt:
                ratio = t / pt
                if ratio > band or ratio < 1.0 / band:
                    flagged[name] = round(ratio, 3)
        vs_prev = {
            "prev": prev_name,
            "probe_ratios": probe_ratios,
            "noise_band": band,
            "total_ratio": (
                round(total / prev["value"], 3) if prev.get("value") else None
            ),
            "flagged_beyond_band": flagged,
        }
        print(
            f"  _vs {prev_name}: total x{vs_prev['total_ratio']} | "
            f"probes {probe_ratios} -> band x{band} | "
            f"{len(flagged)} queries beyond band: {flagged}",
            file=sys.stderr,
        )

    payload = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_p50": p50s,
        "total_p50": round(sum(p50s.values()), 4),
        "calibration": calibration,
        "vs_prev": vs_prev,
        "sf": sf,
    }
    # the full enriched object joins the per-query prints on stderr —
    # the driver's artifact parse reads only a bounded TAIL of stdout
    # (r12's enriched single line outgrew it and the round recorded
    # parsed=null), so stdout carries exactly ONE line, guaranteed to
    # fit (VERDICT r12 #1)
    print(json.dumps(payload), file=sys.stderr)
    print(stdout_line(payload))
    return 0


# the driver parses the last ~2000 chars of stdout; stay safely inside
_STDOUT_LINE_BUDGET = 1800


def stdout_line(payload: dict) -> str:
    """The single driver-facing stdout line: headline metric + per-query
    best times, shrunk to fit the driver's bounded tail window — the
    per-query map is dropped first, never the headline (VERDICT r12 #1:
    the artifact the judge reads must always contain the number)."""
    keep = ["metric", "value", "unit", "queries", "total_p50",
            "calibration", "sf"]
    line = json.dumps({k: payload[k] for k in keep if k in payload})
    if len(line) <= _STDOUT_LINE_BUDGET:
        return line
    keep.remove("queries")
    return json.dumps({k: payload[k] for k in keep if k in payload})


def _latest_recorded_bench(repo_dir: str, sf: float):
    """The newest driver-recorded BENCH_r{N}.json at the same sf, as
    (basename, parsed dict) — (None, None) when no comparable record
    exists (first round at a new sf, or running outside the repo)."""
    import glob
    import re as _re

    best: tuple[int, str, dict] | None = None
    for p in glob.glob(os.path.join(repo_dir, "BENCH_*r*.json")):
        m = _re.fullmatch(
            r"BENCH_(?:sf(?P<fsf>[\d.]+)_)?r(?P<n>\d+)\.json",
            os.path.basename(p),
        )
        if not m:
            continue
        try:
            with open(p) as f:
                d = json.load(f)
        except Exception:
            continue
        # the round driver wraps the bench line in an envelope with the
        # payload under "parsed" — unwrap either shape
        if isinstance(d.get("parsed"), dict):
            d = d["parsed"]
        # a filename-encoded sf (BENCH_sf1_r11.json) is authoritative —
        # older artifacts recorded sf=-1 for fixture dirs like sf1_scale
        rec_sf = float(m.group("fsf")) if m.group("fsf") else d.get("sf")
        # "queries" may be absent when a crowded stdout line had to drop
        # the per-query map (stdout_line) — the headline value and the
        # calibration probes still anchor the comparison
        if rec_sf == sf and d.get("value"):
            n = int(m.group("n"))
            if best is None or n > best[0]:
                best = (n, os.path.basename(p), d)
    return (best[1], best[2]) if best else (None, None)


if __name__ == "__main__":
    raise SystemExit(main())
