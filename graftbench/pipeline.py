"""The paper's write side as one checked pass: a producer fills a
``sources.filelog`` topic (one JSON-lines segment per partition, ~1%
corrupt lines), the consumer drains it through
``streaming.ingest.parse_json_stream`` and ``run_ingest_counted`` into
2000-row CSV batches, and ``etl.train_all_models`` trains the five
models serve loads.

Checks (a failed one raises): drained rows equal produced messages
(corrupt lines are kept, default-filled), no batch holds more than
2000 rows, a re-drain on the same checkpoint adds nothing, all five
models are saved, and model 4's R² on held-out intact rows stays above
``R2_FLOOR``.

``build.serve_models`` runs the pass once to train serve's models.
Every traced run repeats it on a topic of its own seed with spans
around each layer, and reports the layers' figures through
:func:`layer_metrics`.
"""

from __future__ import annotations

import contextlib
import shutil
import time
from pathlib import Path

from graftbench import gen
from graftbench.common import JobCounter, Tracer, covered

#: Model 4 (GBT regression of energy on protein/fat/carbs) must explain
#: at least this share of held-out variance.
R2_FLOOR = 0.8
BATCH_ROWS = 2000
TRAIN_ROWS = {"full": 4000, "tiny": 400}
PARTITIONS = 4
CORRUPT = 0.01
#: ``ml.pipelines`` trainers, each spanned on its own.
TRAINERS = ("train_kmeans", "train_scaled_features", "train_gbt_regressor",
            "train_gbt_classifier", "save_model")


def _csv_rows(batches: Path) -> list[int]:
    """Data rows of every CSV batch file (header excluded)."""
    out = []
    for f in sorted(batches.rglob("*.csv")):
        with open(f, "rb") as fh:
            out.append(max(0, sum(1 for _ in fh) - 1))
    return out


def drain(spark, topic: Path, batches: Path, checkpoint: Path) -> None:
    """The consumer: drain everything in the topic into counted CSV
    batches, exactly once per checkpoint."""
    from bigdata_kafka_2_spark.schema import FOOD_DESCRIPTION_COLUMN, FOOD_SCHEMA
    from bigdata_kafka_2_spark.sources import register_filelog
    from bigdata_kafka_2_spark.streaming import ingest as ING

    register_filelog(spark)
    raw = spark.readStream.format("filelog").option("path", str(topic)).load()
    ING.run_ingest_counted(
        ING.parse_json_stream(raw, FOOD_SCHEMA),
        str(batches),
        str(checkpoint),
        order_col=FOOD_DESCRIPTION_COLUMN,
        batch_size=BATCH_ROWS,
    )


@contextlib.contextmanager
def _trainer_spans(tracer: Tracer):
    """Spans around the functions ``etl.train_all_models`` calls through
    their modules' globals."""
    from bigdata_kafka_2_spark import etl
    from bigdata_kafka_2_spark.ml import pipelines as P

    saved = [(etl, n, getattr(etl, n)) for n in ("ingest_batches", "cumulative_slices")]
    saved += [(P, n, getattr(P, n)) for n in TRAINERS]
    for mod, name, fn in saved:
        prefix = "etl" if mod is etl else "ml.pipelines"
        setattr(mod, name, tracer.wrap(f"{prefix}.{name}", fn))
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_pass(spark, work: Path, size: str, seed: int, tracer: Tracer | None = None) -> dict:
    """Produce, drain, check and train under ``work``; returns the
    producer's and consumer's counts and the models' paths. With an
    enabled ``tracer`` the source and the parser are also timed alone,
    each into the ``noop`` sink, and the training's Spark jobs are
    counted."""
    from bigdata_kafka_2_spark import etl
    from bigdata_kafka_2_spark.ml import pipelines as P
    from bigdata_kafka_2_spark.schema import FOOD_SCHEMA
    from bigdata_kafka_2_spark.sources import register_filelog
    from bigdata_kafka_2_spark.streaming.ingest import parse_json_stream

    tracer = tracer or Tracer()
    rows = gen.food_rows(seed, TRAIN_ROWS[size], "train")
    produced = gen.write_topic(work / "topic", rows, partitions=PARTITIONS,
                               corrupt=CORRUPT, seed=seed)
    topic, batches, checkpoint = str(work / "topic"), work / "batches", work / "checkpoint"
    if tracer.enabled:
        register_filelog(spark)
        with tracer.span("sources.filelog.read"):
            _noop(spark.read.format("filelog").load(topic))
        with tracer.span("streaming.ingest.parse_json_stream"):
            _noop(parse_json_stream(spark.read.text(topic), FOOD_SCHEMA))
    with tracer.span("streaming.ingest.run_ingest_counted"):
        drain(spark, work / "topic", batches, checkpoint)
    per_batch = _csv_rows(batches)
    drained = etl.ingest_batches(spark, str(batches)).count()
    if drained != produced["messages"] or sum(per_batch) != drained:
        raise RuntimeError(f"drained {drained} rows of {produced['messages']} messages")
    if max(per_batch) > BATCH_ROWS:
        raise RuntimeError(f"a batch holds {max(per_batch)} rows > {BATCH_ROWS}")
    drain(spark, work / "topic", batches, checkpoint)
    if sum(_csv_rows(batches)) != drained:
        raise RuntimeError("re-drain on the same checkpoint added rows")
    jobs = JobCounter(spark)
    if tracer.enabled:
        jobs.tag("train")
    with _trainer_spans(tracer), tracer.span("etl.train_all_models"):
        saved = etl.train_all_models(spark, str(batches), str(work / "models"))
    if len(saved) != 5:
        raise RuntimeError(f"only {sorted(saved)} models saved")
    r2 = _held_out_r2(spark, P.load_model(saved["model_4_gbt_reg"]), size, seed)
    if not r2 >= R2_FLOOR:
        raise RuntimeError(f"model 4 R^2 {r2:.3f} below {R2_FLOOR}")
    shutil.rmtree(checkpoint)
    return {**produced, "drained": drained, "batch_files": len(per_batch),
            "epochs": len(list(batches.glob("epoch=*"))), "r2_model_4": r2,
            "train_jobs": jobs.counts("train")[0] if tracer.enabled else 0}


def _held_out_r2(spark, model, size: str, seed: int) -> float:
    from bigdata_kafka_2_spark import etl
    from bigdata_kafka_2_spark.schema import FOOD_SCHEMA

    rows = gen.food_rows(seed + 1, TRAIN_ROWS[size] // 4, "holdout")
    df = spark.createDataFrame([tuple(r[c] for c in FOOD_SCHEMA.names) for r in rows], FOOD_SCHEMA)
    got = model.transform(df).select(etl.REGRESSION_LABEL, "prediction").collect()
    ys = [r[0] for r in got]
    mean = sum(ys) / len(ys)
    ss_tot = sum((y - mean) ** 2 for y in ys)
    ss_res = sum((r[0] - r[1]) ** 2 for r in got)
    return 1.0 - ss_res / ss_tot


def measure(spark, work: Path, size: str, seed: int, tracer: Tracer) -> tuple[bool, dict]:
    """One traced pass on a fresh topic of ``seed``: whether its checks
    held, and its per-layer metrics (empty when a check failed)."""
    from graftbench.common import log

    shutil.rmtree(work, ignore_errors=True)
    tracer.enabled = True
    tracer.set_trace("pipeline")
    t = time.monotonic()
    try:
        counts = run_pass(spark, work, size, seed, tracer)
    except Exception as e:  # a failed check is counted, not fatal
        log(f"ingest-and-train pass failed: {e!r}")
        return False, {}
    finally:
        tracer.enabled = False
    log(f"ingest-and-train pass {time.monotonic() - t:.1f}s: {counts}")
    shutil.rmtree(work, ignore_errors=True)
    return True, layer_metrics(tracer, counts)


def layer_metrics(tracer: Tracer, counts: dict) -> dict:
    spans = tracer.by_trace().get("pipeline", [])

    def secs(name: str) -> float:
        return covered(spans, {name})

    n = counts["messages"]
    metrics = {
        "sources.filelog.rows_per_s": (n / secs("sources.filelog.read"), "1/s"),
        "streaming.ingest.parse_rows_per_s": (n / secs("streaming.ingest.parse_json_stream"),
                                              "1/s"),
        "streaming.ingest.rows_per_s": (n / secs("streaming.ingest.run_ingest_counted"), "1/s"),
        "streaming.ingest.epochs": (counts["epochs"], "count"),
        "streaming.ingest.batch_files": (counts["batch_files"], "count"),
        "etl.train_all_models_s": (secs("etl.train_all_models"), "s"),
        "etl.ingest_batches_s": (secs("etl.ingest_batches"), "s"),
        "etl.cumulative_slices_s": (secs("etl.cumulative_slices"), "s"),
        "spark.jobs.train": (counts["train_jobs"], "count"),
    }
    for name in TRAINERS:
        metrics[f"ml.pipelines.{name}_s"] = (secs(f"ml.pipelines.{name}"), "s")
    return metrics
