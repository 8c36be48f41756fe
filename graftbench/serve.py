"""``serve``: the reference's API users, over HTTP.

Set-up: the seeded food topic's segments are read as text, decoded and
conformed by ``streaming.ingest.parse_json_stream`` into the served
table; the model-3 KNN table is built from it; the five
models (trained once, see ``build.serve_models``) load into a
``serving.ModelServer``; an ``http_api.EngineHTTPServer`` starts.

Load: one closed-loop client in a separate process (``loadgen.py``)
sends whole blocks, each in a seeded order, with fresh seeded payloads
in every request. A block sends each of the four request kinds four
times: predict (``POST /predict/m``, once for each of models 1, 2, 4
and 5), recommend (``POST /predict/3``, KNN), lookup
(``GET /food_details``, an absent id one time in ten) and search
(``GET /find_allergen``). The repository holds no measured traffic to
weight the kinds by, so the mix is this assumption: as many of each.
The untimed warm-up block before the window sends lookups and searches
three times as often.

Classes: ``fast`` is the query API (lookup, search), ``slow`` the model
API (predict, recommend). A class percentile is the mean of its kinds'
own percentiles (predict's is the mean over its four models), so no
percentile mixes requests of different cost.

Checks: every predict answer equals the loaded model's answer for the
same payload, from one batch transform per model over all answered
payloads; every recommendation equals the top five cosine neighbours
computed in numpy from the model-3 scaler's fitted mean and deviation
and the generated rows, independent of the Spark transform and
``ml.knn``; lookups equal the generated row or are 404 for absent ids;
``match_count`` equals the generator's count; ``/health`` and
``/stats`` are checked once per run.
"""

from __future__ import annotations

import contextlib
import json
import random
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

from graftbench import build, gen, pipeline
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

SERVED_ROWS = {"full": 2000, "tiny": 200}
PREDICT_MODELS = (1, 2, 4, 5)
#: Requests of each kind in a block.
PER_KIND = len(PREDICT_MODELS)
#: Untimed blocks before the window (about 10 s of traffic). They send
#: the cheap kinds ``WARMUP_REPEAT`` times as often, so that their code
#: paths warm up about as long as the model kinds' shared ones.
WARMUP_BLOCKS = 1
WARMUP_REPEAT = 3
#: Timed blocks at least, however short ``--seconds``: the ramp compares
#: the first half of the blocks with the second.
MIN_BLOCKS = 2
ABSENT_SHARE = 0.1
KNN_K = 5
CLASSES = {"fast": ("lookup", "search"), "slow": ("predict", "recommend")}
MAX_LIST_ROWS = 100


def features_by_model():
    from bigdata_kafka_2_spark import etl

    return {1: etl.CLUSTER_FEATURES, 2: etl.CLUSTER_FEATURES, 3: etl.CLUSTER_FEATURES,
            4: etl.REGRESSION_FEATURES, 5: etl.CLASSIFICATION_FEATURES}


def served_schema():
    from pyspark.sql import types as T

    from bigdata_kafka_2_spark.schema import ALLERGEN_SCHEMA, FOOD_SCHEMA

    return T.StructType(
        [ALLERGEN_SCHEMA["fdc_id"]] + FOOD_SCHEMA.fields + [ALLERGEN_SCHEMA["ingredients"]]
    )


# --- the seeded plan ---------------------------------------------------------


def make_block(rng: random.Random, n_foods: int, next_id, repeat: int = 1) -> list[dict]:
    from bigdata_kafka_2_spark.schema import FOOD_NUMERIC_COLUMNS

    def payload():
        rec = gen.food_record(rng, 0, "")
        return {c: rec[c] for c in FOOD_NUMERIC_COLUMNS}

    reqs = [{"kind": "predict", "model": m, "method": "POST", "path": f"/predict/{m}",
             "body": payload()} for m in PREDICT_MODELS]
    reqs += [{"kind": "recommend", "model": 3, "method": "POST", "path": "/predict/3",
              "body": payload()} for _ in range(PER_KIND)]
    for _ in range(PER_KIND * repeat):
        fid = 1 + rng.randrange(n_foods)
        if rng.random() < ABSENT_SHARE:
            fid += n_foods
        reqs.append({"kind": "lookup", "fdc_id": fid, "method": "GET",
                     "path": f"/food_details/foods/{fid}"})
        term = rng.choice(gen.SEARCH_TERMS)
        reqs.append({"kind": "search", "term": term, "method": "GET",
                     "path": f"/find_allergen/foods?allergy={term}"})
    rng.shuffle(reqs)
    for r in reqs:
        r["id"] = next_id()
    return reqs


def make_plan(seed: int, size: str, seconds: int) -> dict:
    rng = random.Random(seed * 7919 + 1)
    counter = iter(range(1 << 30))
    n = SERVED_ROWS[size]
    warm = [make_block(rng, n, lambda: next(counter), WARMUP_REPEAT)
            for _ in range(WARMUP_BLOCKS)]
    # more blocks than a window can use: a block takes several seconds
    timed = [make_block(rng, n, lambda: next(counter)) for _ in range(seconds + MIN_BLOCKS)]
    return {"warmup": warm, "timed": timed, "seconds": seconds, "min_blocks": MIN_BLOCKS}


# --- set-up ------------------------------------------------------------------


class Stack:
    """One set-up of the serving stack: served table, model server, HTTP."""

    def __init__(self, spark, topic: Path, models_dir: Path, n_rows: int):
        from bigdata_kafka_2_spark import http_api, serving
        from bigdata_kafka_2_spark.ml import knn
        from bigdata_kafka_2_spark.ml import pipelines as P
        from bigdata_kafka_2_spark.streaming.ingest import parse_json_stream

        t0 = time.monotonic()
        # the topic's segments as lines of JSON, decoded and conformed by
        # the consumer's codec
        raw = spark.read.text(str(topic))
        self.table = parse_json_stream(raw, served_schema()).cache()
        got = self.table.count()
        if got != n_rows:
            raise RuntimeError(f"served table has {got} rows, expected {n_rows}")
        t1 = time.monotonic()
        reco = P.load_model(str(models_dir / "model_3_reco"))
        self.server = serving.ModelServer(
            spark, str(models_dir), features_by_model(), knn.knn_serving_table(reco, self.table)
        )
        if self.server.errors:
            raise RuntimeError(f"models failed to load: {self.server.errors}")
        self.http = http_api.EngineHTTPServer(self.server, {"foods": self.table}).start()
        t2 = time.monotonic()
        self.data_s, self.engine_s = t1 - t0, t2 - t1

    def close(self) -> None:
        self.http.stop()
        self.server.serving_table.unpersist()
        self.table.unpersist()


# --- tracing -----------------------------------------------------------------


class ServerProbe:
    """Spans around the engine functions the HTTP handlers call. The
    client is one closed loop, so the n-th top-level serving call is the
    n-th planned request: that call switches tracing on or off for the
    request and tags its Spark jobs with the request id."""

    def __init__(self, tracer: Tracer, jobs: JobCounter, traced_ids: dict[int, bool]):
        self.tracer, self.jobs, self.traced = tracer, jobs, traced_ids
        self.order = sorted(traced_ids)
        self.n = 0

    def enter(self) -> None:
        rid = self.order[self.n]
        self.n += 1
        self.tracer.enabled = self.traced[rid]
        self.tracer.set_trace(str(rid))
        # every request gets its own group, so no traced request counts
        # jobs of the next one
        self.jobs.tag(f"req-{rid}")

    def top(self, name: str, fn):
        inner = self.tracer.wrap(name, fn)

        def wrapped(*a, **kw):
            self.enter()
            return inner(*a, **kw)

        return wrapped

    def install(self, stack: Stack) -> list:
        """Install the wrappers; returns ``(object, name, original)``
        triples to undo them, ``None`` meaning an instance attribute."""
        from bigdata_kafka_2_spark import serving
        from bigdata_kafka_2_spark.ml import knn
        from bigdata_kafka_2_spark.operators import relational

        t = self.tracer
        restore = [
            (serving, "food_details", serving.food_details),
            (serving, "find_allergen", serving.find_allergen),
            (serving, "create_input_df", serving.create_input_df),
            (knn, "knn_lookup", knn.knn_lookup),
            (relational, "point_lookup", relational.point_lookup),
            (relational, "substring_filter", relational.substring_filter),
        ]
        serving.food_details = self.top("serving.food_details", serving.food_details)
        serving.find_allergen = self.top("serving.find_allergen", serving.find_allergen)
        serving.create_input_df = t.wrap("serving.create_input_df", serving.create_input_df)
        knn.knn_lookup = t.wrap("ml.knn.knn_lookup", knn.knn_lookup)
        relational.point_lookup = t.wrap("operators.relational.point_lookup",
                                         relational.point_lookup)
        relational.substring_filter = t.wrap("operators.relational.substring_filter",
                                             relational.substring_filter)
        stack.server.predict = self.top("serving.predict", stack.server.predict)
        restore.append((stack.server, "predict", None))
        for model in stack.server.models.values():
            model.transform = t.wrap("ml.pipelines.transform", model.transform)
            restore.append((model, "transform", None))
        return restore


# --- checks ------------------------------------------------------------------


def expected_predictions(spark, server, reqs: list[dict]) -> dict[int, dict]:
    """The loaded models' answers for every predict payload, one batch
    transform per model."""
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bigdata_kafka_2_spark import serving

    out: dict[int, dict] = {}
    for m in PREDICT_MODELS:
        mine = [r for r in reqs if r["kind"] == "predict" and r["model"] == m]
        if not mine:
            continue
        cols = server.feature_cols[m]
        schema = T.StructType([T.StructField("__id", T.LongType())]
                              + [T.StructField(c, T.DoubleType()) for c in cols])
        rows = [(r["id"], *serving.coerce_features(r["body"], cols).values()) for r in mine]
        res = server.models[m].transform(spark.createDataFrame(rows, schema))
        mtype = serving.MODEL_TYPES[m]
        if mtype == "classification":
            res = res.select("__id", "prediction",
                             F.element_at(vector_to_array("probability"), 2).alias("p1"))
        for row in res.collect():
            if mtype == "clustering":
                out[row["__id"]] = {"cluster": int(row["prediction"])}
            elif mtype == "regression":
                out[row["__id"]] = {"predicted_energy_kcal": round(float(row["prediction"]), 2)}
            else:
                out[row["__id"]] = {"is_high_protein": int(row["prediction"]),
                                    "probability_is_high_protein": round(float(row["p1"]), 4)}
    return out


class KnnReference:
    """Model 3's recommendations computed without Spark: rows z-scored
    with the fitted scaler's mean and deviation (a zero deviation scales
    to 0, as Spark's ``StandardScaler`` does), cosine distance to every
    served row, nearest first."""

    def __init__(self, server, foods: dict):
        import numpy as np

        scaler = server.models[3].stages[-1]
        self.mean = scaler.mean.toArray()
        self.std = scaler.std.toArray()
        self.cols = server.feature_cols[3]
        self.names = [r["description"] for r in foods.values()]
        self.table = self._unit(np.array([self._z(r) for r in foods.values()]))

    def _z(self, row: dict):
        import numpy as np

        x = np.array([float(row[c]) for c in self.cols]) - self.mean
        return np.divide(x, self.std, out=np.zeros_like(x), where=self.std != 0)

    @staticmethod
    def _unit(m):
        import numpy as np

        norm = np.linalg.norm(m, axis=-1, keepdims=True)
        return np.divide(m, norm, out=np.zeros_like(m), where=norm != 0)

    def matches(self, features: dict, got) -> bool:
        """``got`` holds ``KNN_K`` distinct served rows, nearest first,
        each at its own distance (to the 4 decimals the API rounds to),
        and no row left out is nearer than the farthest one returned."""
        if not isinstance(got, list) or len(got) != KNN_K:
            return False
        dist = dict(zip(self.names, 1.0 - self.table @ self._unit(self._z(features))))
        kth = sorted(dist.values())[KNN_K - 1]
        tol = 1e-4
        return (
            len({g.get("description") for g in got}) == KNN_K
            and all(g.get("description") in dist for g in got)
            and all(abs(g["distance"] - dist[g["description"]]) <= tol for g in got)
            and all(a["distance"] <= b["distance"] for a, b in zip(got, got[1:]))
            and max(dist[g["description"]] for g in got) <= kth + tol
        )


def check(req: dict, res: dict, foods: dict, server, predicted: dict,
          knn_ref: KnnReference) -> bool:
    from bigdata_kafka_2_spark import serving

    status, body = res["status"], res["body"]
    kind = req["kind"]
    if kind == "lookup":
        row = foods.get(req["fdc_id"])
        if row is None:
            return status == 404
        return status == 200 and body == row
    if kind == "search":
        term = req["term"]
        ids = {i for i, r in foods.items() if term in r["ingredients"]}
        got = {f["fdc_id"] for f in body.get("foods", [])} if status == 200 else None
        return (
            status == 200
            and body["match_count"] == len(ids)
            and body["returned_count"] == min(len(ids), MAX_LIST_ROWS) == len(got)
            and got <= ids
        )
    if status != 200 or body.get("model_id") != req["model"]:
        return False
    cols = server.feature_cols[req["model"]]
    features = serving.coerce_features(req["body"], cols)
    if body.get("input_processed") != features:
        return False
    if kind == "recommend":
        return knn_ref.matches(features, body.get("recommendations"))
    want = predicted[req["id"]]
    return all(body.get(k) == v for k, v in want.items())


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read())


def check_admin(url: str, n_rows: int) -> bool:
    code, health = _get(f"{url}/health")
    ok = code == 200 and health["overall_status"] == "healthy" and health[
        "operational_models"] == 5
    code, stats = _get(f"{url}/stats/foods")
    return ok and code == 200 and stats == {"record_count": n_rows}


# --- the run -----------------------------------------------------------------


def run(seed: int, seconds: int, trace: bool, size: str, t_process: float) -> Result:
    with RssSampler() as rss:
        spark = start_session("graftbench-serve")
        session_s = time.monotonic() - t_process
        try:
            return _run(spark, seed, seconds, trace, size, session_s, rss)
        finally:
            stop_session(spark)


def _run(spark, seed, seconds, trace, size, session_s, rss) -> Result:
    from bigdata_kafka_2_spark.schema import FOOD_NUMERIC_COLUMNS

    models_dir = build.models_entry(size) / "models"
    n = SERVED_ROWS[size]
    foods_list = gen.food_rows(seed, n, "food")
    topic = WORK / "run" / f"serve-topic-{size}-{seed}"
    if not topic.exists():
        gen.write_topic(topic, foods_list, partitions=4, corrupt=0.0, seed=seed)
    # the served row as the API returns it: every schema column, numerics as floats
    foods = {
        r["fdc_id"]: {"fdc_id": r["fdc_id"], **{c: float(r[c]) for c in FOOD_NUMERIC_COLUMNS},
                      "description": r["description"], "ingredients": r["ingredients"]}
        for r in foods_list
    }

    stack = Stack(spark, topic, models_dir, n)
    setup_s = session_s + stack.data_s + stack.engine_s
    log(f"serve set-up {setup_s:.2f}s (session {session_s:.2f}s, table {stack.data_s:.2f}s, "
        f"models and HTTP {stack.engine_s:.2f}s)")

    plan = make_plan(seed, size, seconds)
    plan["url"] = stack.http.url
    all_reqs = [r for b in plan["warmup"] + plan["timed"] for r in b]
    tracer = Tracer()
    restore = []
    traced_ids = {}
    if trace:
        # every other request of each kind traced (predict: every other
        # model, swapped between blocks), so each kind has traced and
        # untraced samples, whose difference is the tracing overhead, and
        # every block is half traced, so the ramp compares like with like
        for r in all_reqs:
            traced_ids[r["id"]] = False
        for i, b in enumerate(plan["timed"]):
            seen: dict[str, int] = {}
            for r in b:
                if r["kind"] == "predict":
                    k = PREDICT_MODELS.index(r["model"])
                else:
                    k = seen[r["kind"]] = seen.get(r["kind"], -1) + 1
                traced_ids[r["id"]] = (k + i) % 2 == 1
        probe = ServerProbe(tracer, JobCounter(spark), traced_ids)
        restore = probe.install(stack)
    try:
        with trace_spark_actions(tracer) if trace else contextlib.nullcontext():
            results = _drive(plan)
    finally:
        for obj, name, fn in restore:
            if fn is None:  # an instance attribute shadowing the method
                delattr(obj, name)
            else:
                setattr(obj, name, fn)
        tracer.enabled = False

    by_id = {r["id"]: r for r in all_reqs}
    answered = results["requests"]
    predicted = expected_predictions(spark, stack.server, [by_id[r["id"]] for r in answered])
    knn_ref = KnnReference(stack.server, foods)
    ok = {r["id"]: check(by_id[r["id"]], r, foods, stack.server, predicted, knn_ref)
          for r in answered}
    admin_ok = check_admin(stack.http.url, n)
    failed = sum(1 for v in ok.values() if not v) + (0 if admin_ok else 1)
    attempted = len(ok) + 1
    timed = [r for r in answered if r["phase"] == "timed"]
    stack.close()

    if trace:
        metrics = _layer_metrics(spark, tracer, timed, by_id, traced_ids, setup=(
            session_s, stack.data_s, stack.engine_s))
        pipe_ok, pipe_metrics = pipeline.measure(spark, WORK / "run" / "pipeline", size, seed,
                                                 tracer)
        attempted += 1
        failed += 0 if pipe_ok else 1
        metrics.update(pipe_metrics)
        tracer.write_jsonl(WORK / "spans" / f"serve-{size}-{seed}.jsonl")
    else:
        metrics = _end_to_end(timed, by_id, results["window_start"], setup_s, rss,
                              attempted, failed)
    return Result(attempted=attempted, failed=failed, metrics=metrics)


def _drive(plan: dict) -> dict:
    run_dir = WORK / "run"
    run_dir.mkdir(parents=True, exist_ok=True)
    plan_path, out_path = run_dir / "serve-plan.json", run_dir / "serve-results.json"
    plan_path.write_text(json.dumps(plan))
    out_path.unlink(missing_ok=True)
    loadgen = Path(__file__).with_name("loadgen.py")
    proc = subprocess.run([sys.executable, str(loadgen), str(plan_path), str(out_path)],
                          timeout=150, stdout=sys.stderr)
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited {proc.returncode}")
    return json.loads(out_path.read_text())


def _kind_key(req: dict) -> str:
    return f"predict/{req['model']}" if req["kind"] == "predict" else req["kind"]


def _class_value(samples: dict[str, list[float]], cls: str, q: float) -> float:
    """Mean over the class's kinds of each kind's percentile; predict's
    own value is the mean over its models."""
    vals = []
    for kind in CLASSES[cls]:
        if kind == "predict":
            vals.append(class_pct({k: v for k, v in samples.items() if k.startswith("predict/")}, q))
        else:
            vals.append(pct(samples[kind], q))
    return sum(vals) / len(vals)


def _blocks(timed) -> list[tuple[float, float]]:
    """``(start, end)`` of every timed block, in order."""
    blocks: dict[int, list[dict]] = {}
    for r in timed:
        blocks.setdefault(r["block"], []).append(r)
    return [(min(r["t0"] for r in b), max(r["t1"] for r in b))
            for _, b in sorted(blocks.items())]


def _end_to_end(timed, by_id, window_start, setup_s, rss, attempted, failed):
    lat: dict[str, list[float]] = {}
    for r in timed:
        lat.setdefault(_kind_key(by_id[r["id"]]), []).append((r["t1"] - r["t0"]) * 1000)
    end = max(r["t1"] for r in timed)
    log("serve timed: " + ", ".join(
        f"{k} n={len(v)} p50={pct(v, .5):.0f}" for k, v in sorted(lat.items()))
        + f"; ramp {ramp_ratio(_blocks(timed)):.3f}")
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "success_rate": ((attempted - failed) / attempted, "ratio"),
        "throughput_per_s": (len(timed) / (end - window_start), "1/s"),
        "fast_p50_ms": (_class_value(lat, "fast", 0.5), "ms"),
        "fast_p75_ms": (_class_value(lat, "fast", 0.75), "ms"),
        "slow_p50_ms": (_class_value(lat, "slow", 0.5), "ms"),
        "slow_p75_ms": (_class_value(lat, "slow", 0.75), "ms"),
    }


ENGINE_SPANS = {
    "serving.predict", "serving.food_details", "serving.find_allergen",
    "serving.create_input_df", "ml.pipelines.transform", "ml.knn.knn_lookup",
    "operators.relational.point_lookup", "operators.relational.substring_filter",
    "spark.action",
}


def _layer_metrics(spark, tracer, timed, by_id, traced_ids, setup):
    jobs = JobCounter(spark)
    spans = tracer.by_trace()
    per: dict[str, dict[str, list[float]]] = {}
    lat_on: dict[str, list[float]] = {}
    lat_off: dict[str, list[float]] = {}
    for r in timed:
        req = by_id[r["id"]]
        kind = _kind_key(req)
        latency = (r["t1"] - r["t0"]) * 1000
        if not traced_ids[r["id"]]:
            lat_off.setdefault(kind, []).append(latency)
            continue
        lat_on.setdefault(kind, []).append(latency)
        ss = spans.get(str(r["id"]), [])
        engine = covered(ss, ENGINE_SPANS) * 1000
        action = covered(ss, {"spark.action"}) * 1000
        nj, ns, nt = jobs.counts(f"req-{r['id']}")
        for name, v in (("api_ms", latency - engine), ("engine_ms", engine - action),
                        ("spark_ms", action), ("jobs", nj), ("stages", ns), ("tasks", nt)):
            per.setdefault(name, {}).setdefault(kind, []).append(v)
    overhead = [
        (pct(lat_on[k], 0.5) - pct(lat_off[k], 0.5)) / pct(lat_off[k], 0.5)
        for k in lat_on if k in lat_off
    ]
    metrics = {
        "setup.session_s": (setup[0], "s"),
        "setup.data_s": (setup[1], "s"),
        "setup.engine_s": (setup[2], "s"),
        "trace.overhead_pct": (100 * sum(overhead) / len(overhead), "%"),
        "window.ramp_ratio": (ramp_ratio(_blocks(timed)), "ratio"),
    }
    units = {"api_ms": "ms", "engine_ms": "ms", "spark_ms": "ms",
             "jobs": "count", "stages": "count", "tasks": "count"}
    for cls in CLASSES:
        for name, unit in units.items():
            metrics[f"{cls}.{name}"] = (_class_value(per[name], cls, 0.5), unit)
    log("serve per kind: " + "; ".join(
        f"{k}: " + " ".join(f"{n}={pct(per[n][k], .5):.1f}" for n in units)
        for k in sorted(per["api_ms"])))
    return metrics
