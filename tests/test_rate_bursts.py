"""T168: burst detection — cross-multiplied rule, gaps, warm-up withholding."""

from __future__ import annotations

from pdf_drawing_ocr_recognition_spark.operators.politeness import rate_bursts

_H = 3_600_000_000  # us per hour


def _run(spark, events, **kw):
    df = spark.createDataFrame(events, "actor string, ts_us long")
    return {
        (r["actor"], r["hour_num"]): (
            r["n_events"],
            r["trailing_sum"],
            r["is_burst"],
        )
        for r in rate_bursts(df, **kw).collect()
    }


def _hours(actor, counts, start=0):
    """counts[i] events in hour start+i."""
    out = []
    for i, c in enumerate(counts):
        out += [(actor, (start + i) * _H + j) for j in range(c)]
    return out


def test_spike_flags_and_steady_does_not(spark):
    # hours: 2,2,2,2,9 -> hour 4 trailing=6, 9*3 > 2*6 -> burst
    got = _run(spark, _hours("a", [2, 2, 2, 2, 9]))
    assert got[("a", 3)] == (2, 6, 0)
    assert got[("a", 4)] == (9, 6, 1)


def test_warmup_hours_withheld(spark):
    got = _run(spark, _hours("a", [5, 5, 5, 5]))
    assert ("a", 0) not in got and ("a", 2) not in got
    assert ("a", 3) in got


def test_gap_hours_count_as_zero_baseline(spark):
    # active hour 0 (3 events), silence, then hour 5 with 1 event:
    # trailing hours 2-4 are empty -> baseline 0 -> burst
    ev = _hours("a", [3]) + _hours("a", [1], start=5)
    got = _run(spark, ev)
    assert got[("a", 5)] == (1, 0, 1)


def test_boundary_is_strict(spark):
    # trailing sum 6 over 3h (avg 2); n=4 -> 4*3=12 > 2*6=12 is FALSE
    got = _run(spark, _hours("a", [2, 2, 2, 4]))
    assert got[("a", 3)] == (4, 6, 0)
    # n=5 -> 15 > 12 -> burst
    got2 = _run(spark, _hours("b", [2, 2, 2, 5]))
    assert got2[("b", 3)] == (5, 6, 1)
