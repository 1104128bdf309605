"""Event-log attribution of a tiny traced run of every workload.

Starts its own Spark session (event log on) and runs each workload once,
traced, at a few dozen pages; takes a few minutes.
"""

import os
import time

import pytest

from kgbench import trace as T
from kgbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
USES = {
    "batch_build": ("parse", "extractors", "mapping_engine", "redirects", "linker", "pipeline", "wikidata"),
    "live_update": ("parse", "live", "emit"),
}
SIZES = {"batch_build": {"PAGES": 60, "ENTITIES": 20, "WARM_PAGES": 20}, "live_update": {"STORE_PAGES": 40, "BATCH": 4}}


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from kgforge.session import build_session

    base = tmp_path_factory.mktemp("kgbench-trace")
    logs = base / "eventlog"
    logs.mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(base / "spark-local")
    spark = build_session(app="kgbench-trace-test", master="local[2]", shuffle_partitions=4, extra={
        "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
        "spark.eventLog.dir": f"file://{logs}", "spark.ui.showConsoleProgress": "false"})
    out = {}
    try:
        for name, cls in WORKLOADS.items():
            wl = cls(spark, str(base / name), seed=11)
            for attr, v in SIZES[name].items():
                setattr(wl, attr, v)
            os.makedirs(wl.work)
            wl.warm_up()
            wl.setup()
            tracer = T.Tracer(spark, name)
            _, dt = wl.op(1, tracer)
            t1 = time.time()
            assert wl.check(1), wl.report
            wl.op(2)  # later jobs flush the traced operation's events
            events = T.read_event_log(str(logs))
            session = {"start_s": 0.0, "worker_warmup_s": 0.0, "window": (0.0, 0.0)}
            out[name] = (
                T.group_metrics(events, {"*": (t1 - dt, t1)}),
                T.layer_table(tracer, events, (t1 - dt, t1), session,
                              lambda groups, wl=wl, tracer=tracer: wl.trace_extras(tracer, groups), 0.0),
            )
            tracer.release()
    finally:
        spark.stop()
    return out


@pytest.mark.parametrize("workload", sorted(USES))
def test_every_layer_of_the_workload_has_its_job_group(traced, workload):
    groups, table = traced[workload]
    for layer in USES[workload]:
        assert groups.get(layer, {}).get("jobs", 0) > 0, layer
        assert table[f"{layer}.wall_s"] > 0, layer
    assert set(table) == set(T.metric_names())


def test_parse_sends_pages_to_python_and_wikidata_does_not(traced):
    batch = traced["batch_build"][1]
    assert batch["parse.py_sent_bytes"] > 0 and batch["parse.py_run_s"] > 0
    assert batch["wikidata.jobs"] > 0
    assert all(batch[f"wikidata.{m}"] == 0 for m in T.PY)


def test_layers_a_workload_does_not_use_stay_zero(traced):
    live = traced["live_update"][1]
    for layer in ("extractors", "mapping_engine", "redirects", "linker", "pipeline", "wikidata"):
        assert live[f"{layer}.jobs"] == 0 and live[f"{layer}.wall_s"] == 0, layer
