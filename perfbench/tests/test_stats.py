"""Percentiles with sample counts and failed-fraction accounting."""

import statistics

import pytest

from perfbench.stats import Rep, describe, failed_frac, quartiles


def test_quartiles_match_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    q1, med, q3 = quartiles(vals)
    assert (q1, med, q3) == tuple(statistics.quantiles(vals, n=4))
    assert med == statistics.median(vals)


def test_single_sample_is_its_own_quartiles():
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        quartiles([])


def test_describe_reports_sample_count():
    line = describe("round time", [1.0, 2.0, 3.0, 4.0], "s")
    assert "median 2.5 s" in line and "n=4" in line


def test_failed_frac_counts_engine_errors_over_dequeued():
    assert failed_frac(Rep(urls=300, errors=6, ok=True)) == pytest.approx(6 / 300)


def test_failed_crawl_counts_all_its_urls():
    # a crawl that crashed or missed the reference digest fails whole
    assert failed_frac(Rep(urls=300, errors=4, ok=False)) == 1.0


def test_failed_frac_without_urls_is_total_failure():
    assert failed_frac(Rep(urls=0, ok=False)) == 1.0
