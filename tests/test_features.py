"""The 68-slot feature contract (segaux.py:248-275) on hand-built rows:
slot i carries ``schemas.standard_format_columns()[1 + i]``, and a
coefficient the segment does not have — empty, null or short coef
arrays, or a null element inside one — reads as 0.0.  Checked through
both feature consumers, /tile's ``training_data`` and /prediction's
``prediction_inputs``, on the same segment and date."""

import datetime

import pytest

from lcmap_blackmagic_spark.plans.prediction import prediction_inputs
from lcmap_blackmagic_spark.plans.training import training_data
from lcmap_blackmagic_spark.schemas import (AUX, BANDS, SEGMENTS,
                                            standard_format_columns)

DATE = "2001-07-01"
ORDINAL = datetime.date(2001, 7, 1).toordinal()

# px → the coef array every band of that pixel's segment carries
COEFS = {
    0: "full",    # 7 distinct coefficients
    1: "empty",   # []
    2: "null",    # NULL
    3: "short",   # 3 coefficients
    4: "holes",   # 7 slots, NULL at positions 1 and 4
}


def _coef(kind, b):
    full = [100.0 * b + i + 0.25 for i in range(7)]
    return {"full": full, "empty": [], "null": None, "short": full[:3],
            "holes": [None if i in (1, 4) else v
                      for i, v in enumerate(full)]}[kind]


def _segment(px, kind):
    rec = {"cx": 0, "cy": 0, "px": px, "py": 0, "sday": "2001-03-01",
           "eday": "2001-11-01", "bday": "2001-11-01", "chprob": 0.5,
           "curqa": 8}
    for b, band in enumerate(BANDS):
        rec |= {f"{band}mag": 1.0, f"{band}rmse": 10.0 * b + 0.5,
                f"{band}int": 1000.0 * b + 0.125,
                f"{band}coef": _coef(kind, b)}
    rec[f"{BANDS[-1]}rmse"] = None       # a null rmse reads as 0.0 too
    return rec


def _aux(px):
    return {"cx": 0, "cy": 0, "px": px, "py": 0, "nlcdtrn": 3, "nlcd": 41,
            "aspect": 90 + px, "posidex": 2.5, "slope": 0.75, "mpw": 7,
            "dem": 1500.5}


def _expected(px, kind):
    seg, aux = _segment(px, kind), _aux(px)
    want = {c: float(aux[c]) for c in ("aspect", "posidex", "slope", "mpw",
                                       "dem")}
    for b, band in enumerate(BANDS):
        coef = seg[f"{band}coef"] or []
        for i in range(7):
            v = coef[i] if i < len(coef) else None
            want[f"{band}coef{i}"] = 0.0 if v is None else v
        want[f"{band}rmse"] = seg[f"{band}rmse"] or 0.0
        slope = want[f"{band}coef0"]
        want[f"{band}ar"] = seg[f"{band}int"] + slope * ORDINAL
    return [want[c] for c in standard_format_columns()[1:]]


@pytest.fixture(scope="module")
def tables(spark):
    segs = [tuple(_segment(px, k)[f.name] for f in SEGMENTS.fields)
            for px, k in COEFS.items()]
    aux = [tuple(_aux(px)[f.name] for f in AUX.fields) for px in COEFS]
    return (spark.createDataFrame(segs, SEGMENTS),
            spark.createDataFrame(aux, AUX))


def test_contract_has_68_named_slots():
    names = standard_format_columns()[1:]
    assert len(names) == 68 and len(set(names)) == 68


def test_training_features_follow_contract(tables):
    segs, aux = tables
    rows = training_data(segs, aux, DATE, keep_keys=True).collect()
    assert sorted(r["px"] for r in rows) == sorted(COEFS)
    for r in rows:
        assert r["label"] == 3
        assert list(r["features"]) == _expected(r["px"], COEFS[r["px"]]), \
            COEFS[r["px"]]


def test_prediction_features_follow_contract(tables):
    segs, aux = tables
    rows = prediction_inputs(segs, aux, 7, 1).collect()
    assert sorted(r["px"] for r in rows) == sorted(COEFS)
    for r in rows:
        assert r["pday"] == DATE
        assert list(r["independent"]) == \
            _expected(r["px"], COEFS[r["px"]]), COEFS[r["px"]]
