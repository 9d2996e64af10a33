"""Per-layer metrics of a traced run.

Every metric is per timed pass (the mean over the run's timed passes),
except the set-up spans, which happen once. Times named ``<layer>.s``
sum the latencies of the operations that entered that layer (the rows
that use it); ``*_s`` times of a function-level layer sum the wall time
spent inside that layer's calls, outermost calls only. Lazy DataFrame
builders return before any job runs, so a layer that only builds plans
(readers, pipeline) shows plan-construction time; the jobs those plans
start are timed in the span of the action that runs them (writers,
``collect``, ``localCheckpoint``). Engine counters (``spark.*`` and the
scan metrics) come from Spark's own status store, read after the run,
for the jobs of the timed passes. The probe layers (streaming modules,
``plans.fixtures``, ``plans.multimodal``, ``operators.pq``) come from the
probe rows of a traced analytics run (perfbench/probes.py): one call
each after the timed passes, not per pass.
"""

from __future__ import annotations

import json

import spans

ENGINE = "censo_escolar_spark"
PLAN_MODULES = ("relational", "events", "sketches", "censo", "northstar")
#: layers timed as the operations that enter them (the corpus rows)
OP_LAYERS = ("functions.text", "operators.dedup", "operators.similarity",
             "operators.retrieval")
#: stored-index maintainer modules, timed as the probe rows that enter them
STREAMING = ("windows", "dedup", "lexindex", "ivfindex", "merge", "scd2", "stats", "imagededup")
PROBE_LAYERS = tuple(f"streaming.{m}" for m in STREAMING) + ("operators.pq",)
#: engine modules whose calls become spans
TRACED = [f"{ENGINE}.{m}" for m in (
    "sources.readers", "sources.writers", "sources.catalog",
    "etl.pipeline", "etl.job", "etl.corpus_job", "plans.fixtures") + OP_LAYERS + PROBE_LAYERS]

#: (metric, unit, better) for every per-layer metric, in report order
METRICS = [
    ("session.start_s", "s", "lower"), ("session.warmup_s", "s", "lower"),
    ("sources.readers.csv_scan_s", "s", "lower"), ("sources.readers.parquet_scan_s", "s", "lower"),
    ("sources.readers.rows_read", "count", "lower"),
    ("etl.pipeline.transform_s", "s", "lower"), ("etl.pipeline.missing_partitions_s", "s", "lower"),
    ("etl.job.full_s", "s", "lower"), ("etl.job.rerun_s", "s", "lower"),
    ("etl.job.add_year_s", "s", "lower"),
    ("sources.writers.write_s", "s", "lower"), ("sources.writers.files", "count", "lower"),
    ("sources.writers.bytes_per_input_byte", "ratio", "lower"),
    ("sources.catalog.refresh_s", "s", "lower"),
    ("plans.fixtures.prime_s", "s", "lower"),
] + [(f"plans.{m}.s", "s", "lower") for m in PLAN_MODULES + ("multimodal",)] + [
    ("etl.corpus_job.curate_s", "s", "lower"), ("etl.corpus_job.audit_s", "s", "lower"),
    ("etl.corpus_job.sink_s", "s", "lower"),
] + [(f"{layer}.s", "s", "lower") for layer in OP_LAYERS + PROBE_LAYERS] + [
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.dedup.verified_pairs", "count", "higher"),
    ("operators.dedup.candidate_yield", "ratio", "higher"),
    ("operators.similarity.ivf_recall", "ratio", "higher"),
    ("operators.similarity.lsh_pair_recall", "ratio", "higher"),
    ("operators.pq.recall", "ratio", "higher"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"), ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
]


def install_tracing() -> int:
    """Wrap the traced engine layers (after the plan modules are loaded,
    so their imported references are re-pointed too)."""
    from pyspark.sql import DataFrame

    import workloads

    workloads._registry()
    import censo_escolar_spark.etl.corpus_job  # noqa: F401
    import censo_escolar_spark.etl.job  # noqa: F401

    return spans.install(TRACED, methods=[
        (DataFrame, "collect", "action.collect"),
        (DataFrame, "localCheckpoint", "action.localCheckpoint"),
    ])


def _dur(s: dict) -> float:
    return (s["end"] or s["start"]) - s["start"]


def _layer(s: dict) -> str:
    name = s["name"]
    return name[len(ENGINE) + 1:].rsplit(".", 1)[0] if name.startswith(ENGINE) else ""


def from_spans(n_pass: int) -> dict[str, float]:
    S = spans.spans()
    kids: dict[int | None, list[int]] = {}
    for i, s in enumerate(S):
        kids.setdefault(s["parent"], []).append(i)

    def subtree(i: int):
        todo = list(kids.get(i, ()))
        while todo:
            j = todo.pop()
            yield j
            todo.extend(kids.get(j, ()))

    def once(name: str) -> float:
        return sum(_dur(s) for s in S if s["name"] == name)

    out: dict[str, float] = {
        "session.start_s": once("session.start"),
        "session.warmup_s": once("session.warmup"),
    }
    acc: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        acc[key] = acc.get(key, 0.0) + v

    timed = [i for i, s in enumerate(S)
             if s["name"].startswith("op:") and s["attrs"].get("index", 0) >= 1]
    for i in timed:
        op = S[i]
        d = _dur(op)
        add(f"plans.{op['attrs'].get('module')}.s", d)
        name = op["attrs"]["op"]
        if name.startswith("census."):
            add({"census.full": "etl.job.full_s", "census.rerun": "etl.job.rerun_s",
                 "census.add_year": "etl.job.add_year_s"}.get(name, "-"), d)
        touched = set()
        for j in subtree(i):
            lay = _layer(S[j])
            if not lay:
                continue
            touched.add(lay)
            # outermost call of its layer only
            p, nested = S[j]["parent"], False
            while p is not None and p != i:
                if _layer(S[p]) == lay:
                    nested = True
                    break
                p = S[p]["parent"]
            if nested:
                continue
            fn = S[j]["name"].rsplit(".", 1)[1]
            if lay == "etl.pipeline" and fn in ("transform_table", "missing_partitions"):
                add("etl.pipeline.transform_s" if fn == "transform_table"
                    else "etl.pipeline.missing_partitions_s", _dur(S[j]))
            elif lay in ("sources.writers", "sources.catalog"):
                add("sources.writers.write_s" if lay == "sources.writers"
                    else "sources.catalog.refresh_s", _dur(S[j]))
            elif lay == "etl.corpus_job" and fn == "run_corpus_job":
                _corpus_job_phases(S, kids, j, add)
        for lay in touched & set(OP_LAYERS):
            add(f"{lay}.s", d)
    out.update({k: v / n_pass for k, v in acc.items() if k != "-"})
    out.update(_probes(S, subtree))
    return out


def _probes(S, subtree) -> dict[str, float]:
    """Probe-layer times: the base-store build, and per layer the summed
    latency of the probe rows that entered it."""
    out = {"plans.fixtures.prime_s": sum(_dur(s) for s in S if s["name"] == "probe.prime")}
    for i, s in enumerate(S):
        if not s["name"].startswith("probe:"):
            continue
        touched = {_layer(S[j]) for j in subtree(i)}
        keys = [f"{lay}.s" for lay in PROBE_LAYERS if lay in touched]
        if s["attrs"].get("module") == "multimodal":
            keys.append("plans.multimodal.s")
        for k in keys:
            out[k] = out.get(k, 0.0) + _dur(s)
    return out


def _corpus_job_phases(S, kids, job: int, add) -> None:
    """curate = curate() + the eager checkpoint of its result; audit =
    audit() + the collect of the report; sink = the partitioned write."""
    sink_start = None
    for c in sorted(kids.get(job, ()), key=lambda k: S[k]["start"]):
        name = S[c]["name"]
        if name.endswith("corpus_job.curate") or name == "action.localCheckpoint":
            add("etl.corpus_job.curate_s", _dur(S[c]))
        elif name.endswith("corpus_job.audit"):
            add("etl.corpus_job.audit_s", _dur(S[c]))
        elif name == "action.collect" and sink_start is None:
            add("etl.corpus_job.audit_s", _dur(S[c]))
        elif _layer(S[c]) == "sources.writers":
            sink_start = S[c]["start"]
            add("etl.corpus_job.sink_s", _dur(S[c]))


def _status_json(spark, what: str) -> list:
    """jobsList / stageList of the status store as JSON (one py4j call)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    if what == "jobs":
        data = store.jobsList(None)
    else:
        data = store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0),
                               jvm.java.util.ArrayList())
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return json.loads(mapper.writeValueAsString(data))


def from_spark(spark, n_pass: int, csv_input: bool) -> dict[str, float]:
    jobs = [j for j in _status_json(spark, "jobs")
            if (j.get("jobGroup") or "").startswith("p") and not j["jobGroup"].startswith("p0:")]
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    stages = [s for s in _status_json(spark, "stages")
              if s["stageId"] in stage_ids and s.get("status") == "COMPLETE"]
    scan = [s for s in stages if s.get("inputRecords", 0) > 0]
    scan_s = sum(s["executorRunTime"] for s in scan) / 1000
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "spark.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                 for s in stages),
        "spark.executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1000,
        "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000,
        "sources.readers.rows_read": sum(s.get("inputRecords", 0) for s in stages),
        "sources.readers.csv_scan_s" if csv_input else "sources.readers.parquet_scan_s": scan_s,
    }
    return {k: v / n_pass for k, v in out.items()}


def per_layer(spark, wl, n_pass: int) -> tuple[dict, list[str]]:
    """The per-layer metrics of a traced run, and the errors of the
    outputs the workload's extra measurements checked."""
    # the status store is read before the extras run their own jobs
    values = from_spark(spark, n_pass, csv_input=wl.name == "census_etl")
    extras, errors = wl.layer_extras(n_pass)
    values.update(from_spans(n_pass))
    values.update(extras)
    metrics = {name: {"value": round(float(values.get(name, 0.0)), 6), "unit": unit}
               for name, unit, _ in METRICS}
    return metrics, errors
