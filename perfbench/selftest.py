"""Self-tests for the benchmark's own logic (no Spark needed, ~5 s).

    python3 perfbench/selftest.py

Checks that every generator gives byte-identical files for one seed and
different files for another, and that each workload's output check
catches a corrupted expected value.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for base, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _write_all(root: str, seed: int) -> None:
    fixtures.write_catalog(os.path.join(root, "catalog"), 0.001, seed)
    years = fixtures.finance_years(seed, 16)
    fixtures.write_raw_zone(os.path.join(root, "raw"), years)
    fixtures.write_long_zone(os.path.join(root, "long"),
                             fixtures.finance_years(seed, 4, defect_every=0))


def test_generators_deterministic(tmp: str) -> None:
    a, b, c = (os.path.join(tmp, x) for x in "abc")
    _write_all(a, 7)
    _write_all(b, 7)
    _write_all(c, 8)
    ta, tb, tc = _tree(a), _tree(b), _tree(c)
    assert ta == tb, "same seed must give identical bytes"
    assert ta != tc, "another seed must give other data"
    assert not filecmp.dircmp(a, b).diff_files


def test_finance_years_shape() -> None:
    years = fixtures.finance_years(3, 24)
    assert len(years) == 24 and all(len(y.rows) == 27 for y in years)
    for block in range(0, 24, 8):
        assert sum(y.defective for y in years[block:block + 8]) == 1
        assert sum(y.files == 2 for y in years[block:block + 8]) == 4
    assert not any(y.defective for y in fixtures.finance_years(3, 24, defect_every=0))


def test_catalog_pin_corruption_caught() -> None:
    import catalog
    import pandas as pd

    canon = catalog._oracle_check_module()._canon
    got = catalog.content_digest(pd.DataFrame({"k": [2, 1], "v": [0.5, 1.25]}), canon)
    again = catalog.content_digest(pd.DataFrame({"v": [1.25, 0.5], "k": [1, 2]}), canon)
    assert got == again, "the digest must ignore row and column order"
    pins = {"q": dict(got, oracle="exact")}
    assert catalog.pin_problem("q", got, pins) is None
    bad = {"q": dict(pins["q"], sha256="0" * 64)}
    assert catalog.pin_problem("q", got, bad)
    assert catalog.pin_problem("q", got, {"q": dict(pins["q"], rows=3)})


def test_etl_check_catches_corruption(tmp: str) -> None:
    import etl
    from common import Result

    class Zone:
        pass

    fy = next(y for y in fixtures.finance_years(5, 8) if not y.defective)
    zone = Zone()
    zone.root = tmp
    zone.years = {fy.year: fy}
    fixtures.write_long_zone(os.path.join(tmp, "long"), [fy])

    class YearResult:
        year, passed, wide_rows, long_rows, version_id = (
            fy.year, True, len(fy.rows), fy.long_rows, "v_1")

    zone.results = [YearResult()]
    ok = Result()
    etl.check(zone, ok)
    assert ok.failed == 0, ok.problems
    cat = next(iter(fy.long_sums))
    fy.long_sums[cat] += 1.0  # corrupt one predicted sum
    bad = Result()
    etl.check(zone, bad)
    assert bad.failed == 1
    fy.long_sums[cat] -= 1.0
    YearResult.passed = False  # a clean year must not be rejected
    rejected = Result()
    etl.check(zone, rejected)
    assert rejected.failed == 1


def test_serving_check_catches_corruption() -> None:
    import serving

    years = {fy.year: fy for fy in fixtures.finance_years(9, 4, defect_every=0)}
    y = min(years)
    for template in serving.TEMPLATES:
        status, rows = serving.expected(template, years, y)
        if rows is None:
            assert status == 400
            continue
        assert serving.same_rows(rows, rows)
        if rows:
            corrupt = [list(r) for r in rows]
            v = corrupt[0][-1]
            corrupt[0][-1] = v + 1 if isinstance(v, (int, float)) else v + "x"
            assert not serving.same_rows(corrupt, rows), template


def test_serving_traffic_mix() -> None:
    import random

    import serving

    reqs = serving.traffic(random.Random(4), [2001, 2002, 2003], 210)
    templates = [t for t, _y in reqs]
    assert templates[:5] == ["available_years", *serving.YEAR_VIEW]
    assert templates.count("dml_behind_cte") == 10  # 1 in 21
    assert reqs == serving.traffic(random.Random(4), [2001, 2002, 2003], 210)


def main() -> int:
    tmp = tempfile.mkdtemp(dir=os.path.abspath("."), prefix=".bench_selftest-")
    try:
        test_generators_deterministic(os.path.join(tmp, "gen"))
        test_finance_years_shape()
        test_catalog_pin_corruption_caught()
        test_etl_check_catches_corruption(os.path.join(tmp, "etl"))
        test_serving_check_catches_corruption()
        test_serving_traffic_mix()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
