"""HTTP serving surface tests: the reference's endpoint set
(/health, /, /train, /validate, /test, /automate — API:178-404) over a
real ephemeral-port server, driven with stdlib urllib."""

import collections
import datetime
import json
import urllib.error
import urllib.request

import pytest

from mql5_economic_news_data_pipeline_2025_gcp__spark import pipeline, serving
from mql5_economic_news_data_pipeline_2025_gcp__spark.serving import EngineAPI, serve
from mql5_economic_news_data_pipeline_2025_gcp__spark.sources import sinks


def _post(base, path, body=None):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(body or {}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=120) as r:
        return r.status, json.loads(r.read())


@pytest.fixture(scope="module")
def events(spark):
    """Two series (USD/EUR CPI) of 40 hourly rows each."""
    rows = []
    base_ts = datetime.datetime(2025, 1, 1)
    for g, cur in enumerate(["USD", "EUR"]):
        for i in range(40):
            rows.append(
                (base_ts + datetime.timedelta(hours=i), cur, "CPI",
                 float(i % 7) + g, 1)
            )
    return spark.createDataFrame(
        rows,
        "event_ts timestamp, Currency string, Event string, "
        "value double, ImpactOrdinal int",
    )


@pytest.fixture(scope="module")
def server(spark, events):
    api = EngineAPI(spark, events_provider=lambda: events)
    httpd = serve(api)
    host, port = httpd.server_address
    yield f"http://{host}:{port}"
    httpd.shutdown()


def test_health_and_root(server):
    status, body = _get(server, "/health")
    assert status == 200
    assert body["status"] == "healthy" and body["engine_ok"] is True
    assert body["model_trained"] is False
    status, body = _get(server, "/")
    assert status == 200 and "/automate" in body["endpoints"]


def test_validate_before_train_conflicts(server):
    status, body = _post(server, "/validate")
    assert status == 409 and "train" in body["error"]


def test_train_then_validate_then_test(server):
    status, body = _post(server, "/train", {"params": {"EPOCHS": 3}})
    assert status == 200
    # body params override defaults; defaults fill the rest (API:241-264)
    assert body["params"]["EPOCHS"] == 3
    assert body["params"]["HIDDEN_SIZE"] == 64
    assert body["summary"]["n_groups"] == 2
    assert len(body["metrics"]) == 2 and not body["metrics_truncated"]

    status, body = _get(server, "/health")
    assert body["model_trained"] is True

    status, body = _post(server, "/validate")
    assert status == 200 and body["summary"]["n_groups"] == 2

    status, body = _post(server, "/test")
    assert status == 200
    assert len(body["live_forecasts"]) == 2
    assert all(r["ForecastValue"] is not None for r in body["live_forecasts"])


def test_automate_and_errors(server):
    status, body = _post(server, "/automate", {"skip_training": False})
    assert status == 200 and set(body) == {"train", "validate", "test"}
    for stage in body.values():
        assert stage["summary"]["n_groups"] == 2

    status, body = _post(server, "/nope")
    assert status == 404
    req = urllib.request.Request(
        server + "/train", data=b"{not json", method="POST"
    )
    try:
        urllib.request.urlopen(req, timeout=30)
        raised = None
    except urllib.error.HTTPError as e:
        raised = e.code
    assert raised == 400


def test_automate_resolves_params_like_train(spark, events, tmp_path):
    """/automate takes the params file into account (defaults < last
    run < file < body, as /train does) and records what it resolved."""
    params_path = tmp_path / "params.json"
    params_path.write_text(json.dumps({"SEQ_LENGTH": 9}))
    history = str(tmp_path / "history.jsonl")
    api = EngineAPI(spark, events_provider=lambda: events,
                    params_path=str(params_path), history_path=history)
    status, _ = api.automate({})
    assert status == 200
    assert pipeline.load_last_run_params(history)["SEQ_LENGTH"] == 9


def test_metrics_truncated_only_when_rows_are_left_out(spark, events, monkeypatch):
    """Two metric rows: a cap of two returns both and is not truncated,
    a cap of one returns one and is."""
    api = EngineAPI(spark, events_provider=lambda: events)
    monkeypatch.setattr(serving, "MAX_RESPONSE_ROWS", 2)
    status, body = api.train({})
    assert status == 200
    assert len(body["metrics"]) == 2 and body["metrics_truncated"] is False
    monkeypatch.setattr(serving, "MAX_RESPONSE_ROWS", 1)
    status, body = api.train({})
    assert len(body["metrics"]) == 1 and body["metrics_truncated"] is True


def test_automate_calls_stages_and_sinks_through_module_names(
    spark, events, tmp_path, monkeypatch
):
    """The benchmark traces /automate by wrapping ``pipeline.run_train``,
    ``run_validate``, ``run_test`` and ``sinks.save_conditional`` in
    place; one request must reach each stage once and write each
    stage's metric and summary tables."""
    calls = collections.Counter()

    def count(module, name):
        fn = getattr(module, name)

        def counted(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(module, name, counted)

    for stage in ("run_train", "run_validate", "run_test"):
        count(pipeline, stage)
    count(sinks, "save_conditional")
    api = EngineAPI(spark, events_provider=lambda: events, sink_dir=str(tmp_path / "sinks"))
    status, _ = api.automate({})
    assert status == 200
    assert calls == {"run_train": 1, "run_validate": 1, "run_test": 1, "save_conditional": 6}


def test_runner_over_http(server):
    """AUTO:77-173 twin: ready-poll then /automate over the live server."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.runner import (
        run_over_http,
        wait_ready,
    )

    assert wait_ready(server, attempts=3, delay=0.1)
    out = run_over_http(server, {"EPOCHS": 2})
    assert out["mode"] == "automate"
    assert set(out["stages"]) == {"train", "validate", "test"}
    assert out["stages"]["test"]["summary"]["n_groups"] == 2


def test_runner_ready_poll_gives_up_fast():
    from mql5_economic_news_data_pipeline_2025_gcp__spark.runner import wait_ready

    # nothing listens on this port; bounded retries must return False
    assert wait_ready("http://127.0.0.1:9", attempts=2, delay=0.05) is False


def test_runner_direct_mode(spark):
    """No server anywhere: the in-process rung runs the real pipeline on
    the sf0.001 events table and emits per-stage summaries."""
    from mql5_economic_news_data_pipeline_2025_gcp__spark.runner import run_direct

    out = run_direct("/root/testdata/sf0.001", params={"EPOCHS": 1})
    assert out["mode"] == "direct"
    assert set(out["stages"]) == {"train", "validate", "test"}
    for stage in out["stages"].values():
        assert stage["summary"]["n_groups"] >= 1
