"""Orchestration API mirroring the reference's FastAPI surface
(SURVEY §2.11): train / validate / test / automate as Python functions
over Spark DataFrames, with the reference's parameter-merge and skip
semantics (API:241-267, API:318-373).

The engine produces model *inputs* (normalized features/sequences) and
consumes model *outputs* (predictions) as DataFrames; actual LSTM/XGB
training is out of engine scope (SURVEY §2.10). A deterministic stub
predictor (lag-1) keeps the full dataflow runnable and oracle-checkable;
real models drop in behind ``predict_fn``.

Every stage runs on two steps: ``_fit`` turns a training slice into
the model state (routing table + per-series min/max) and ``_evaluate``
scores an evaluation slice against that state (re-derived features,
training-param normalization, routing, prediction, per-group metrics).
``run_train`` and each walk-forward fold fit; ``run_validate``,
``run_test`` and each fold evaluate. Series are keyed by
``SERIES_KEY`` and ordered by ``TIME_COL``; the train/val/test split
orders by ``(TIME_COL, *SERIES_KEY)`` so tied timestamps split the same
way whatever the input row order.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.features import (
    SERIES_KEY,
    latest_per_group,
    normalization_params,
    with_filled,
    with_high_impact_count,
    with_lag_features,
    with_min_max_normalized,
)
from .operators.metrics import group_metrics, metrics_summary
from .operators.routing import model_routing, with_model_type
from .operators.split import split_labels

#: Time axis of every series; ``(TIME_COL, *SERIES_KEY)`` is a total
#: order over the upserted events (the natural key is unique there).
TIME_COL = "event_ts"

#: Reference defaults (API:30-42 = TRAIN:20-32; PARAMS file overrides).
DEFAULT_PARAMS = {
    "SEQ_LENGTH": 5,
    "HIDDEN_SIZE": 64,
    "NUM_LAYERS": 2,
    "DROPOUT": 0.2,
    "BATCH_SIZE": 64,
    "EPOCHS": 1,
    "LEARNING_RATE": 0.001,
    "WEIGHT_DECAY": 1e-4,
    "XGB_N_ESTIMATORS": 100,
    "XGB_MAX_DEPTH": 3,
    "XGB_LEARNING_RATE": 0.1,
}


def merge_params(
    file_params: dict | None,
    body_params: dict | None,
    merge: bool = True,
    last_run_params: dict | None = None,
) -> dict:
    """Reference param resolution (API:241-264) plus the last-run
    fallback (API:124-150, where MLflow's most recent run supplies
    params when neither file nor body has them): precedence is
    defaults < last_run < file < body when ``merge`` — otherwise the
    single strongest present source (body, else file, else last_run)
    overrides defaults alone. Non-model keys pass through untouched."""
    out = dict(DEFAULT_PARAMS)
    if merge:
        out.update(last_run_params or {})
        out.update(file_params or {})
        out.update(body_params or {})
    else:
        for src in (body_params, file_params, last_run_params):
            if src is not None:
                out.update(src)
                break
    return out


def load_params_file(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def record_run_params(history_path: str, params: dict, run_id: int | None = None) -> int:
    """Append one run's params to the history log (the engine's MLflow-
    tracking analogue — driver-side run metadata, one JSON line per run,
    NOT data-plane state). Returns the run id."""
    prev = load_params_history(history_path)
    rid = run_id if run_id is not None else (max(prev) + 1 if prev else 1)
    os.makedirs(os.path.dirname(history_path) or ".", exist_ok=True)
    with open(history_path, "a") as fh:
        fh.write(json.dumps({"run_id": rid, "params": params}) + "\n")
    return rid


def load_params_history(history_path: str) -> dict[int, dict]:
    """run_id → params for every recorded run."""
    if not os.path.exists(history_path):
        return {}
    out: dict[int, dict] = {}
    with open(history_path) as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                out[rec["run_id"]] = rec["params"]
    return out


def load_last_run_params(history_path: str) -> dict | None:
    """The most recent run's params, or None with no history — the
    fallback source ``merge_params`` consults (API:124-150 parity)."""
    hist = load_params_history(history_path)
    return hist[max(hist)] if hist else None


@dataclass
class PipelineResult:
    metrics: DataFrame
    extra: dict = field(default_factory=dict)

    @property
    def summary(self) -> DataFrame:
        """A8 scalar summary of ``metrics`` (reference VAL:317-319)."""
        return metrics_summary(self.metrics)


def _default_predict(df: DataFrame) -> DataFrame:
    """Deterministic stub model: predict the lagged value (FIXTURES B5)."""
    return df.withColumn("prediction", F.col("value_lag1"))


def routed_stub_predict(df: DataFrame) -> DataFrame:
    """M5↔M6 integration: route each series through its pandas_udf
    inference island (LSTM-stub over sequence windows for 'rnn' series,
    XGB-stub over lag features otherwise — TRAIN:184-231). Expects a
    ``model_type`` column (from routing.with_model_type); rows a branch
    cannot score (short history / no lag) get NULL predictions, which
    the metric aggregate then ignores — the reference's skip behavior.
    """
    from .operators.inference import SEQ_LENGTH, lstm_stub_predict, xgb_stub_predict

    w = Window.partitionBy(*SERIES_KEY).orderBy(TIME_COL)
    rnn = (
        df.filter(F.col("model_type") == "rnn")
        .withColumn(
            "_seq", F.collect_list("value").over(w.rowsBetween(-SEQ_LENGTH, -1))
        )
        .withColumn(
            "prediction",
            F.when(
                F.size("_seq") == SEQ_LENGTH, lstm_stub_predict(F.col("_seq"))
            ),
        )
        .drop("_seq")
    )
    xgb = df.filter(F.col("model_type") != "rnn").withColumn(
        "prediction",
        F.when(
            F.col("value_lag1").isNotNull(),
            xgb_stub_predict(F.col("value_lag1"), F.lit(0).cast("long")),
        ),
    )
    return rnn.unionByName(xgb)


def build_features(events: DataFrame, fill_direction: str = "ffill_then_bfill") -> DataFrame:
    """The reference's create_features chain (TRAIN:415-433): high-impact
    count, lag-1 features, directional fill. One shuffle on the series
    key services every window."""
    df = events.withColumn("EventDate", F.to_date(F.col(TIME_COL)))
    df = with_high_impact_count(
        df, impact_col="ImpactOrdinal", currency_col=SERIES_KEY[0], date_col="EventDate"
    )
    df = with_lag_features(df, ["value"], order=(TIME_COL,))
    return with_filled(df, ["value_lag1"], order=(TIME_COL,), direction=fill_direction)


def _split(df: DataFrame, label: str, exact: bool) -> DataFrame:
    """The rows of one chronological split (W3), ordered by the total
    order so tied timestamps land in the same split whatever the input
    row order."""
    labeled = split_labels(df, order=(TIME_COL, *SERIES_KEY), exact=exact)
    return labeled.filter(F.col("split") == label)


def _score(scored: DataFrame) -> DataFrame:
    """Per-group R²/MSE of predictions against actuals (A7)."""
    return group_metrics(scored, actual_col="value", pred_col="prediction")


def _fit(train_feats: DataFrame) -> tuple[DataFrame, dict]:
    """Model state from a training slice: the routing table and the
    per-series min/max (TRAIN:377-389, TRAIN:467-472); returns the
    slice routed and normalized, and ``{routing, norm_params}``."""
    routing = model_routing(train_feats)
    norm_params = normalization_params(train_feats, ["value"])
    train = with_min_max_normalized(with_model_type(train_feats, routing), ["value"])
    return train, {"routing": routing, "norm_params": norm_params}


def _evaluate(
    rows: DataFrame, state: dict, predict_fn: Callable[[DataFrame], DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """Score an evaluation slice against a fitted ``state``: re-derive
    features on the slice ONLY (leakage-aware, VAL:220-236), normalize
    with the TRAINING params plus fallback (VAL:258-287), route,
    predict. Returns the scored rows and their per-group metrics."""
    feats = build_features(rows, "bfill_then_ffill")
    feats = with_min_max_normalized(feats, ["value"], params=state["norm_params"])
    scored = predict_fn(with_model_type(feats, state["routing"]))
    return scored, _score(scored)


def run_train(
    events: DataFrame,
    params: dict | None = None,
    predict_fn: Callable[[DataFrame], DataFrame] = _default_predict,
    exact_split: bool = True,
) -> PipelineResult:
    """POST /train analogue: features → split → routing → normalize →
    predict → per-group metrics (TRAIN:272-586).

    ``exact_split=True`` is the reference floor-arithmetic parity form
    (global window — small SF only); ``False`` selects the
    approxQuantile-cutoff scale path (map-only labeling, no global
    sort) — the form a 100 TB run must use."""
    params = params or merge_params(None, None)
    train = _split(build_features(events), "train", exact_split)
    train, state = _fit(train)
    return PipelineResult(_score(predict_fn(train)), extra={**state, "params": params})


def run_validate(
    events: DataFrame,
    train_result: PipelineResult,
    predict_fn: Callable[[DataFrame], DataFrame] = _default_predict,
    exact_split: bool = True,
) -> PipelineResult:
    """POST /validate analogue: the val split scored against the train
    state."""
    val = _split(events, "val", exact_split)
    _, metrics = _evaluate(val, train_result.extra, predict_fn)
    return PipelineResult(metrics)


def run_test(
    events: DataFrame,
    train_result: PipelineResult,
    predict_fn: Callable[[DataFrame], DataFrame] = _default_predict,
    exact_split: bool = True,
) -> PipelineResult:
    """POST /test analogue: test-split metrics + live forecast = latest
    denormalized prediction per series (TEST:95-120)."""
    test = _split(events, "test", exact_split)
    scored, metrics = _evaluate(test, train_result.extra, predict_fn)
    live = latest_per_group(
        scored.filter(F.col("prediction").isNotNull()), order_col=TIME_COL
    ).select(*SERIES_KEY, F.col("prediction").alias("ForecastValue"))
    return PipelineResult(metrics, extra={"live_forecasts": live})


def run_automate(
    events: DataFrame,
    params: dict | None = None,
    predict_fn: Callable[[DataFrame], DataFrame] = _default_predict,
    skip_training: bool = False,
    exact_split: bool = True,
    history_path: str | None = None,
) -> dict[str, PipelineResult]:
    """POST /automate analogue: sequential train → validate → test with
    the skip-training short-circuit (API:318-373). ``exact_split=False``
    runs the whole flow on the quantile-cutoff split (the scale path).

    With ``history_path`` set, the run consults the params history when
    ``params`` is absent (the reference's MLflow last-run fallback,
    API:124-150) and records the resolved params after — so a second
    parameterless run reproduces the first's configuration."""
    out: dict[str, PipelineResult] = {}
    if history_path is not None:
        if params is None:
            params = merge_params(
                None, None, last_run_params=load_last_run_params(history_path)
            )
        record_run_params(history_path, params)
    train_res = run_train(events, params=params, predict_fn=predict_fn, exact_split=exact_split)
    if not skip_training:
        out["train"] = train_res
    out["validate"] = run_validate(events, train_res, predict_fn=predict_fn,
                                   exact_split=exact_split)
    out["test"] = run_test(events, train_res, predict_fn=predict_fn, exact_split=exact_split)
    return out


def run_walk_forward(
    events: DataFrame,
    n_folds: int = 3,
    params: dict | None = None,
    predict_fn: Callable[[DataFrame], DataFrame] = _default_predict,
    exact: bool = True,
) -> list[PipelineResult]:
    """Rolling-origin (walk-forward) cross-validation — the form of CV
    that is VALID for chronological data (random k-fold would leak the
    future into training; the md5 k-fold assigner `emb_kfold_assign` is
    for i.i.d. corpora only).

    Fold i trains on everything before cutoff c_i and evaluates on
    [c_i, c_{i+1}), with cutoffs at fractions (i+1)/(n_folds+1) of the
    time axis. Each fold is the train→validate contract exactly: ``_fit``
    on the fold's TRAIN slice only, ``_evaluate`` on its eval slice
    (leakage-aware, VAL:258-287 semantics).

    Scale: cutoffs come from ONE approxQuantile job over the time
    column (``exact=True`` sets relativeError 0 — exact quantiles,
    still no global sort); fold slicing is a map-side filter, so k
    folds cost k filtered passes over the plan, never a shuffle of the
    raw events.
    """
    us = F.unix_micros(F.col(TIME_COL))
    fracs = [(i + 1) / (n_folds + 1) for i in range(n_folds + 1)]
    cuts = events.select(us.alias("_us")).approxQuantile("_us", fracs, 0.0 if exact else 0.01)

    results: list[PipelineResult] = []
    for i in range(n_folds):
        _, state = _fit(build_features(events.filter(us < cuts[i])))
        ev = events.filter((us >= cuts[i]) & (us < cuts[i + 1]))
        _, metrics = _evaluate(ev, state, predict_fn)
        extra = {"fold": i, "cutoff_us": cuts[i], "params": params or {}}
        results.append(PipelineResult(metrics, extra=extra))
    return results
