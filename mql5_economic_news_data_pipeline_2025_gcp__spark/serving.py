"""HTTP serving surface — the reference's FastAPI endpoint set
(`API:178-404`: GET /health, GET /, POST /train /validate /test
/automate) re-exposed over the Spark pipeline, stdlib-only
(`http.server`; no web-framework dependency, per the environment's
no-install rule — swap in any ASGI wrapper in production without
touching the handlers).

Semantics map 1:1 onto ``pipeline``:

- ``POST /train``    → ``run_train`` with reference param resolution
  (defaults < last-run < file < body — ``merge_params``, API:241-264;
  ``/automate`` resolves the same way); the train result (routing +
  normalization params) becomes the server's current model state, the
  role MLflow's registry plays in the reference.
- ``POST /validate`` / ``POST /test`` → ``run_validate`` /
  ``run_test`` against the saved train state, through one handler
  body; 409 when no train has run (the reference 404s when model
  artifacts are missing, API:281-284).
- ``POST /automate`` → ``run_automate`` (train → validate → test,
  ``skip_training`` short-circuit, API:318-373).
- ``GET /health``    → a real engine probe (``SELECT 1`` through the
  SparkSession — the analogue of the reference's DB probe) plus
  capability flags; ``GET /`` → capability/param-file status
  (API:178-223).

Responses are JSON: the A8 scalar summary always, per-group metric
rows capped at ``MAX_RESPONSE_ROWS`` with ``metrics_truncated`` set
when the table has more (an HTTP response is a driver-side
materialization — the cap is the same bounded-collect discipline as
the fit paths; full metric tables belong in a sink, not a response
body).

The server is for the serving tier, NOT the data path: every request
runs Spark jobs; at scale this sits on a driver with dynamic
allocation, and heavy flows land behind async job submission. Single
in-process model state mirrors the reference's single-uvicorn-worker
deployment (API:396-404).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

from pyspark.sql import DataFrame

from .pipeline import (
    PipelineResult,
    _default_predict,
    load_last_run_params,
    load_params_file,
    merge_params,
    record_run_params,
    run_automate,
    run_test,
    run_train,
    run_validate,
)

#: Per-group metric rows returned inline in a response body.
MAX_RESPONSE_ROWS = 1000


def _df_rows(df: DataFrame) -> tuple[list[dict], bool]:
    """At most ``MAX_RESPONSE_ROWS`` rows of ``df``, and whether it has
    more."""
    rows = df.limit(MAX_RESPONSE_ROWS + 1).collect()
    out = [r.asDict(recursive=True) for r in rows[:MAX_RESPONSE_ROWS]]
    return out, len(rows) > MAX_RESPONSE_ROWS


def _result_payload(res: PipelineResult, include_rows: bool = True) -> dict:
    payload: dict = {"summary": res.summary.first().asDict()}
    if include_rows:
        payload["metrics"], payload["metrics_truncated"] = _df_rows(res.metrics)
    if "live_forecasts" in res.extra:
        payload["live_forecasts"], _ = _df_rows(res.extra["live_forecasts"])
    return payload


class EngineAPI:
    """Route handlers + model state; independent of the HTTP transport
    so tests can drive it directly and a production wrapper can mount
    the same object behind any framework."""

    def __init__(
        self,
        spark,
        events_provider: Callable[[], DataFrame],
        params_path: str | None = None,
        history_path: str | None = None,
        predict_fn: Callable[[DataFrame], DataFrame] = _default_predict,
        exact_split: bool = True,
        sink_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self._events = events_provider
        self.params_path = params_path
        self.history_path = history_path
        self.predict_fn = predict_fn
        self.exact_split = exact_split
        #: With ``sink_dir`` set, every stage's FULL metric table and
        #: summary land as parquet under ``{sink_dir}/{stage}_metrics``
        #: / ``{stage}_summary`` — the durable counterpart of the
        #: row-capped response body (the reference persists stage
        #: metrics to its warehouse tables the same way; responses are
        #: for callers, sinks are the record).
        self.sink_dir = sink_dir
        self._train_result: PipelineResult | None = None
        self._lock = threading.Lock()
        #: ``save_conditional`` is read-then-write (append vs overwrite)
        #: against a fixed per-stage path — two concurrent requests for
        #: the same stage would interleave and corrupt the sink dir, so
        #: persistence is serialized (separate from ``_lock``: model-
        #: state reads must not block behind a parquet write).
        self._persist_lock = threading.Lock()

    def _persist(self, stage: str, res: PipelineResult) -> None:
        if not self.sink_dir:
            return
        import os

        from .sources.sinks import save_conditional

        with self._persist_lock:
            save_conditional(
                self.spark, res.metrics, os.path.join(self.sink_dir, f"{stage}_metrics")
            )
            save_conditional(
                self.spark, res.summary, os.path.join(self.sink_dir, f"{stage}_summary")
            )

    # ---- param resolution (API:241-264 + API:124-150) ----
    def _resolve_params(self, body_params: dict | None) -> dict:
        file_params = (
            load_params_file(self.params_path) if self.params_path else None
        )
        last = (
            load_last_run_params(self.history_path) if self.history_path else None
        )
        return merge_params(file_params, body_params, last_run_params=last)

    # ---- routes ----
    def health(self) -> tuple[int, dict]:
        try:
            self.spark.sql("SELECT 1").collect()
            engine_ok = True
        except Exception:  # engine down => unhealthy, still a response
            engine_ok = False
        return 200 if engine_ok else 503, {
            "status": "healthy" if engine_ok else "unhealthy",
            "engine": "spark",
            "engine_ok": engine_ok,
            "model_trained": self._train_result is not None,
            "params_file": bool(self.params_path),
        }

    def root(self) -> tuple[int, dict]:
        return 200, {
            "service": "mql5-econ-news-spark-engine",
            "endpoints": ["/health", "/train", "/validate", "/test", "/automate"],
            "params_file_configured": bool(self.params_path),
            "history_configured": bool(self.history_path),
        }

    def train(self, body: dict) -> tuple[int, dict]:
        params = self._resolve_params(body.get("params"))
        if self.history_path:
            record_run_params(self.history_path, params)
        res = run_train(
            self._events(),
            params=params,
            predict_fn=self.predict_fn,
            exact_split=self.exact_split,
        )
        with self._lock:
            self._train_result = res
        self._persist("train", res)
        out = _result_payload(res)
        out["params"] = params
        return 200, out

    def _evaluate(self, stage: str, run: Callable[..., PipelineResult]) -> tuple[int, dict]:
        """/validate and /test: score against the saved train state."""
        with self._lock:
            tr = self._train_result
        if tr is None:
            return 409, {"error": "no trained model state; POST /train first"}
        res = run(self._events(), tr, predict_fn=self.predict_fn, exact_split=self.exact_split)
        self._persist(stage, res)
        return 200, _result_payload(res)

    def validate(self, body: dict) -> tuple[int, dict]:
        return self._evaluate("validate", run_validate)

    def test(self, body: dict) -> tuple[int, dict]:
        return self._evaluate("test", run_test)

    def automate(self, body: dict) -> tuple[int, dict]:
        params = self._resolve_params(body.get("params"))
        results = run_automate(
            self._events(),
            params=params,
            predict_fn=self.predict_fn,
            skip_training=bool(body.get("skip_training", False)),
            exact_split=self.exact_split,
            history_path=self.history_path,
        )
        if "train" in results:
            with self._lock:
                self._train_result = results["train"]
        for stage, res in results.items():
            self._persist(stage, res)
        return 200, {
            stage: _result_payload(res, include_rows=False)
            for stage, res in results.items()
        }


def _make_handler(api: EngineAPI):
    routes_get = {"/health": api.health, "/": api.root}
    routes_post = {
        "/train": api.train,
        "/validate": api.validate,
        "/test": api.test,
        "/automate": api.automate,
    }

    class Handler(BaseHTTPRequestHandler):
        def _send(self, status: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (stdlib API)
            fn = routes_get.get(self.path.rstrip("/") or "/")
            if fn is None:
                self._send(404, {"error": f"unknown path {self.path}"})
                return
            status, payload = fn()
            self._send(status, payload)

        def do_POST(self):  # noqa: N802
            fn = routes_post.get(self.path.rstrip("/"))
            if fn is None:
                self._send(404, {"error": f"unknown path {self.path}"})
                return
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b""
            try:
                body = json.loads(raw) if raw else {}
            except json.JSONDecodeError:
                self._send(400, {"error": "body is not valid JSON"})
                return
            try:
                status, payload = fn(body)
            except Exception as exc:  # surface, don't kill the worker
                self._send(500, {"error": f"{type(exc).__name__}: {exc}"})
                return
            self._send(status, payload)

        def log_message(self, *args):  # quiet test output
            pass

    return Handler


def serve(api: EngineAPI, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Start the HTTP server on a background thread; returns the server
    (``server.server_address`` has the bound port; ``shutdown()`` stops
    it). ``port=0`` binds an ephemeral port — the test-friendly mode."""
    httpd = ThreadingHTTPServer((host, port), _make_handler(api))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd
