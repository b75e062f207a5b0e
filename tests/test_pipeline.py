"""Pipeline stage outputs pinned on a fixed frame (train / validate /
test / walk-forward share one fit and one evaluate step; these values
hold them to the reference flow), and the split's independence of the
input row order."""

from __future__ import annotations

import datetime as dt

import pytest

from mql5_economic_news_data_pipeline_2025_gcp__spark.pipeline import (
    run_automate,
    run_walk_forward,
)

SCHEMA = "event_ts timestamp, Currency string, Event string, value double, ImpactOrdinal int"
BASE = dt.datetime(2025, 1, 1)


@pytest.fixture(scope="module")
def events(spark):
    """Four series of different lengths, no two rows at the same
    timestamp, every sixth value null, impacts cycling 1..3."""
    series = (("USD", "CPI", 30), ("EUR", "CPI", 24), ("USD", "NFP", 18), ("JPY", "GDP", 12))
    rows = []
    for s, (cur, ev, n) in enumerate(series):
        for i in range(n):
            ts = BASE + dt.timedelta(hours=i, minutes=7 * s)
            value = None if (i + s) % 6 == 4 else float((i * 7 + s * 3) % 11) + 0.5 * s
            rows.append((ts, cur, ev, value, 1 + (i + s) % 3))
    return spark.createDataFrame(rows, SCHEMA)


TRAIN = {
    "metrics": [
        ("EUR", "CPI", -1.5466760961810468, 21.307692307692307, 13),
        ("JPY", "GDP", -1.3986486486486487, 28.4, 10),
        ("USD", "CPI", -2.007274283269149, 35.857142857142854, 14),
        ("USD", "NFP", -1.2761627906976747, 21.75, 12),
    ],
    "summary": (-1.5571904546991298, 26.82870879120879, 49, 4),
}
LIVE = [("EUR", "CPI", 3.5), ("USD", "CPI", 2.0)]
EXPECTED = {
    True: {
        "train": TRAIN,
        "validate": {
            "metrics": [
                ("EUR", "CPI", -2.2400000000000007, 20.25, 4),
                ("USD", "CPI", 0.0, 10.666666666666666, 3),
                ("USD", "NFP", -1.6351351351351346, 21.666666666666668, 3),
            ],
            "summary": (-1.2917117117117118, 17.527777777777775, 10, 3),
        },
        "test": {
            "metrics": [
                ("EUR", "CPI", 0.06962025316455678, 16.333333333333332, 3),
                ("USD", "CPI", -1.4461152882205512, 15.25, 8),
            ],
            "summary": (-0.6882475175279972, 15.791666666666666, 11, 2),
        },
    },
    False: {
        "train": TRAIN,
        "validate": {
            "metrics": [
                ("EUR", "CPI", -1.3543689320388355, 19.4, 5),
                ("USD", "CPI", -1.0903225806451613, 20.25, 4),
                ("USD", "NFP", -1.6351351351351346, 21.666666666666668, 3),
            ],
            "summary": (-1.3599422159397105, 20.438888888888886, 12, 3),
        },
        "test": {
            "metrics": [
                ("EUR", "CPI", -1.0, 24.5, 2),
                ("USD", "CPI", -1.4407894736842106, 15.142857142857142, 7),
            ],
            "summary": (-1.2203947368421053, 19.82142857142857, 9, 2),
        },
    },
}
FOLDS = [
    (1735707600000000.0, [
        ("EUR", "CPI", -2.2400000000000007, 20.25, 4),
        ("JPY", "GDP", -0.2322274881516586, 16.25, 4),
        ("USD", "CPI", -1.6, 26.0, 5),
        ("USD", "NFP", -0.25190839694656497, 10.25, 4),
    ]),
    (1735726020000000.0, [
        ("EUR", "CPI", -1.5542168674698797, 17.666666666666668, 6),
        ("JPY", "GDP", -1.0, 24.5, 2),
        ("USD", "CPI", -1.2108843537414966, 26.0, 5),
        ("USD", "NFP", -1.223926380368098, 29.0, 5),
    ]),
    (1735748040000000.0, [
        ("EUR", "CPI", -0.6810344827586208, 21.666666666666668, 6),
        ("USD", "CPI", -1.3515151515151516, 19.4, 10),
        ("USD", "NFP", -1.0, 8.0, 2),
    ]),
]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _close(got, want) -> None:
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert g == pytest.approx(w, rel=1e-12, abs=1e-12), (got, want)


@pytest.mark.parametrize("exact_split", [True, False])
def test_automate_outputs_are_pinned(events, exact_split):
    res = run_automate(events, exact_split=exact_split)
    assert set(res) == {"train", "validate", "test"}
    for stage, want in EXPECTED[exact_split].items():
        _close(_rows(res[stage].metrics), want["metrics"])
        _close([tuple(res[stage].summary.first())], [want["summary"]])
    _close(_rows(res["test"].extra["live_forecasts"]), LIVE)


def test_walk_forward_outputs_are_pinned(events):
    folds = run_walk_forward(events, n_folds=3)
    assert [f.extra["fold"] for f in folds] == [0, 1, 2]
    for f, (cutoff, want) in zip(folds, FOLDS):
        assert f.extra["cutoff_us"] == cutoff
        _close(_rows(f.metrics), want)


def test_split_is_independent_of_input_row_order(spark):
    """Four series share every hour, so the exact split's boundaries
    fall inside a group of tied timestamps; the rows on either side of
    the cut must not depend on the order the rows arrive in."""
    rows = [
        (BASE + dt.timedelta(hours=h), cur, "CPI", float((h * 3 + s) % 7), 1)
        for h in range(10)
        for s, cur in enumerate(("AUD", "EUR", "JPY", "USD"))
    ]
    outputs = []
    for ordered in (rows, rows[::-1]):
        res = run_automate(spark.createDataFrame(ordered, SCHEMA))
        outputs.append({stage: _rows(r.metrics) for stage, r in res.items()})
    for stage in ("train", "validate", "test"):
        _close(outputs[1][stage], outputs[0][stage])
