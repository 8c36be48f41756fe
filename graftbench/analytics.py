"""``analytics``: the analyst surface — registry queries (``plans``) over
``operators`` and ``io`` on the read-only driver tables, bypassing
``serving`` entirely.

One closed-loop in-process client runs whole passes over a fixed list
(at least two, and until the timed window has elapsed), each pass in a
seeded order, and materializes every query through the ``noop`` sink. Two classes:

- ``fast`` (short queries, a few Spark jobs each, mostly the per-job
  floor): q01 pricing summary, q07 five-way join, q148 point-in-time
  join, q50 cosine top-k;
- ``slow`` (multi-job pipelines): q121 nDCG over BM25 and q44
  MinHash-LSH near-dedup with iterative connected components.

A class percentile is the mean of its queries' own percentiles.

Checks: in the untimed warm-up pass every query's collected result must
equal its DuckDB oracle answer (computed once per seed, see
``build.analytics_inputs``); a timed execution counts as correct when
it completes and its query passed that check.
"""

from __future__ import annotations

import contextlib
import json
import random
import sys
import time

from graftbench import build, pipeline
from graftbench.common import (
    WORK,
    JobCounter,
    Result,
    RssSampler,
    Tracer,
    class_pct,
    covered,
    log,
    pct,
    ramp_ratio,
    start_session,
    stop_session,
    trace_spark_actions,
)

CLASSES = {
    "fast": ("q01_pricing_summary", "q07_multiway_join_revenue",
             "q148_point_in_time_join", "q50_cosine_topk"),
    "slow": ("q121_ndcg_bm25", "q44_near_dedup_survivors"),
}
QUERIES = CLASSES["fast"] + CLASSES["slow"]
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings")


def open_tables(spark, data_dir: str) -> None:
    """Open every table once through ``io.read_table`` and check its
    columns — the analyst's first look at the data."""
    from bigdata_kafka_2_spark.io import read_table

    for t in TABLES:
        if not read_table(spark, data_dir, t).columns:
            raise RuntimeError(f"table {t} has no columns")


def run(seed: int, seconds: int, trace: bool, size: str, t_process: float) -> Result:
    with RssSampler() as rss:
        spark = start_session("graftbench-analytics")
        session_s = time.monotonic() - t_process
        try:
            return _run(spark, seed, seconds, trace, size, session_s, rss)
        finally:
            stop_session(spark)


def _execute(spark, q, data_dir: str, tracer: Tracer) -> None:
    with tracer.span("plans.build"):
        df = q.spark_fn(spark, data_dir)
    df.write.format("noop").mode("overwrite").save()


def _run(spark, seed, seconds, trace, size, session_s, rss) -> Result:
    t0 = time.monotonic()
    from bigdata_kafka_2_spark.plans import load_extended

    registry = load_extended()
    queries = [registry[n] for n in QUERIES]
    engine_s = time.monotonic() - t0
    entry = build.tables_entry(size, seed)
    answers = json.loads((entry / "oracle.json").read_text())
    data_dir = str(entry / "data")
    t = time.monotonic()
    open_tables(spark, data_dir)
    data_s = time.monotonic() - t
    setup_s = session_s + engine_s + data_s
    log(f"analytics set-up {setup_s:.2f}s (session {session_s:.2f}s, registry "
        f"{engine_s:.2f}s, tables {data_s:.2f}s)")

    rng = random.Random(seed * 104729 + 7)
    tracer = Tracer()
    # warm-up pass: collect each result and check it against the oracle
    verified = {}
    for q in rng.sample(queries, len(queries)):
        got = q.spark_fn(spark, data_dir)
        rows = build.table_rows(got.columns, got.collect())
        verified[q.name] = build.same_rows(rows, answers[q.name])
        if not verified[q.name]:
            log(f"{q.name}: result differs from the oracle")

    jobs = JobCounter(spark)
    runs = []  # (name, t0, t1, ok, traced, group)
    passes = []  # (start, end)
    restore = _wrap_read_table(tracer) if trace else []
    try:
        with trace_spark_actions(tracer) if trace else contextlib.nullcontext():
            start = time.monotonic()
            p = 0
            # whole passes, at least two: a percentile needs more than one
            # sample, and a traced run traces each query in every other
            # pass, half of the queries in each pass, so neither tracing
            # nor warm-up falls on one side of the overhead or the ramp
            while time.monotonic() - start < seconds or p < 2:
                t_pass = time.monotonic()
                for q in rng.sample(queries, len(queries)):
                    traced = trace and (p + QUERIES.index(q.name)) % 2 == 0
                    group = f"p{p}-{q.name}"
                    tracer.enabled = traced
                    tracer.set_trace(group)
                    if trace:
                        jobs.tag(group)
                    t = time.monotonic()
                    try:
                        _execute(spark, q, data_dir, tracer)
                        ok = verified[q.name]
                    except Exception as e:  # a failed query is counted, not fatal
                        log(f"{q.name} failed: {e!r}")
                        ok = False
                    runs.append((q.name, t, time.monotonic(), ok, traced, group))
                    tracer.enabled = False
                passes.append((t_pass, time.monotonic()))
                p += 1
    finally:
        tracer.enabled = False
        for mod, fn in restore:
            mod.read_table = fn

    attempted = len(runs) + len(verified)
    failed = sum(1 for r in runs if not r[3]) + sum(1 for v in verified.values() if not v)
    if trace:
        metrics = _layer_metrics(tracer, jobs, runs, passes, (session_s, data_s, engine_s))
        pipe_ok, pipe_metrics = pipeline.measure(spark, WORK / "run" / "pipeline", size, seed,
                                                 tracer)
        attempted += 1
        failed += 0 if pipe_ok else 1
        metrics.update(pipe_metrics)
        tracer.write_jsonl(WORK / "spans" / f"analytics-{size}-{seed}.jsonl")
    else:
        metrics = _end_to_end(runs, start, passes, setup_s, rss, attempted, failed)
    return Result(attempted=attempted, failed=failed, metrics=metrics)


def _wrap_read_table(tracer: Tracer) -> list:
    """Span ``io.read_table`` wherever the query modules bound it."""
    from bigdata_kafka_2_spark import io

    original = io.read_table
    wrapped = tracer.wrap("io.read_table", original)
    restore = []
    for name, mod in list(sys.modules.items()):
        if name.startswith("bigdata_kafka_2_spark") and getattr(mod, "read_table", None) is original:
            restore.append((mod, original))
            mod.read_table = wrapped
    return restore


def _lat(runs) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for name, t0, t1, *_ in runs:
        out.setdefault(name, []).append((t1 - t0) * 1000)
    return out


def _class(samples: dict[str, list[float]], cls: str, q: float) -> float:
    return class_pct({n: samples[n] for n in CLASSES[cls]}, q)


def _end_to_end(runs, start, passes, setup_s, rss, attempted, failed):
    lat = _lat(runs)
    end = max(r[2] for r in runs)
    log("analytics timed: " + ", ".join(
        f"{k[:4]} n={len(v)} p50={pct(v, .5):.0f}" for k, v in lat.items())
        + f"; ramp {ramp_ratio(passes):.3f}")
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "success_rate": ((attempted - failed) / attempted, "ratio"),
        "throughput_per_s": (len(runs) / (end - start), "1/s"),
        "fast_p50_ms": (_class(lat, "fast", 0.5), "ms"),
        "fast_p75_ms": (_class(lat, "fast", 0.75), "ms"),
        "slow_p50_ms": (_class(lat, "slow", 0.5), "ms"),
        "slow_p75_ms": (_class(lat, "slow", 0.75), "ms"),
    }


def _layer_metrics(tracer, jobs, runs, passes, setup):
    spans = tracer.by_trace()
    per: dict[str, dict[str, list[float]]] = {}
    on = _lat([r for r in runs if r[4]])
    off = _lat([r for r in runs if not r[4]])
    for name, t0, t1, ok, traced, group in runs:
        if not traced:
            continue
        ss = spans.get(group, [])
        total = covered(ss, {"plans.build", "io.read_table", "spark.action"}) * 1000
        action = covered(ss, {"spark.action"}) * 1000
        read = covered(ss, {"io.read_table"}) * 1000
        nj, ns, nt = jobs.counts(group)
        for metric, v in (("api_ms", total - action - read), ("engine_ms", read),
                          ("spark_ms", action), ("jobs", nj), ("stages", ns), ("tasks", nt)):
            per.setdefault(metric, {}).setdefault(name, []).append(v)
    overhead = [(pct(on[k], 0.5) - pct(off[k], 0.5)) / pct(off[k], 0.5) for k in on if k in off]
    metrics = {
        "setup.session_s": (setup[0], "s"),
        "setup.data_s": (setup[1], "s"),
        "setup.engine_s": (setup[2], "s"),
        "trace.overhead_pct": (100 * sum(overhead) / len(overhead), "%"),
        "window.ramp_ratio": (ramp_ratio(passes), "ratio"),
    }
    units = {"api_ms": "ms", "engine_ms": "ms", "spark_ms": "ms",
             "jobs": "count", "stages": "count", "tasks": "count"}
    for cls in CLASSES:
        for metric, unit in units.items():
            metrics[f"{cls}.{metric}"] = (_class(per[metric], cls, 0.5), unit)
    log("analytics per query: " + "; ".join(
        f"{k[:4]}: " + " ".join(f"{m}={pct(per[m][k], .5):.1f}" for m in units)
        for k in QUERIES if k in per["api_ms"]))
    return metrics
