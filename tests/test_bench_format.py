"""Pin the bench output contract (VERDICT r6 #1): the final stdout line must
fit the driver's 2,000-char tail capture, and the headline total must sum
ONLY HEADLINE rows (ADVICE r6: EXTRA_BENCH twins reported separately).

No Spark session needed — exercises the pure summary-construction path.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _fake_timings():
    # Worst-case realistic magnitudes: three-digit seconds with 3 decimals.
    t = {name: 123.456 for name in bench.HEADLINE}
    t.update({name: 99.999 for name in bench.EXTRA_BENCH})
    return t


def _fake_layers(timings):
    return {name: {"jobs": 54.0, "shuffle_write_mb": 10.675} for name in timings}


def test_final_line_fits_driver_window():
    timings = _fake_timings()
    spread = {name: 1.59 for name in timings}
    detail, line = bench.build_outputs(
        timings, spread, _fake_layers(timings), [9.99, 9.99, 9.99], 0.1
    )
    assert len(line) < 1800
    parsed = json.loads(line)
    assert "layers" not in parsed  # per-row layers live in the detail file
    assert parsed["metric"] == "headline_total_sec"
    assert parsed["rows"] == len(bench.HEADLINE)
    assert len(parsed["queries"]) == 10  # top-10 slowest only
    assert parsed["detail"] == detail["detail_file"]


def test_headline_total_excludes_extra_bench():
    timings = _fake_timings()
    detail, line = bench.build_outputs(timings, {}, _fake_layers(timings), [None, None, None], 0.1)
    expected = round(123.456 * len(bench.HEADLINE), 3)
    assert json.loads(line)["value"] == expected
    assert detail["value"] == expected
    assert detail["extra_total_sec"] == round(99.999 * len(bench.EXTRA_BENCH), 3)
    # detail keeps the FULL per-query map (the committed record the judge reads)
    assert set(detail["queries"]) == set(timings)
    # and one layer record per timed row, keyed like `queries`
    assert set(detail["layers"]) == set(detail["queries"])


def test_headline_names_resolve_in_registry():
    from team_126_spark.queries import REGISTRY

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert missing == []
