"""Standalone operator APIs not used by the fused engine path but exported
as building blocks (COVERAGE.md references): with_url_key, standalone
fetcher."""

import pandas as pd


def test_with_url_key(spark):
    from anycrawl_spark.functions.urls import with_url_key

    df = spark.createDataFrame(
        pd.DataFrame({"url": ["HTTP://A.com:80/x#f", "javascript:alert(1)", "http://b.com/y?utm_source=z&a=1"]})
    )
    rows = with_url_key(df).collect()
    assert {r.url for r in rows} == {"http://a.com/x", "http://b.com/y?a=1"}
    assert all(r.url_hash is not None and r.host for r in rows)


def test_standalone_fetcher(spark):
    from anycrawl_spark import synth
    from anycrawl_spark.crawl.fetcher import fetch

    sched = spark.createDataFrame(
        [
            ("j", synth.page_url(synth.host_name(0), 1), 1, "h", 0, 0, 0, 0,
             "pending", 0, 0, 0.0)
        ],
        "job_id string, url string, url_hash long, host string, depth int, "
        "discovery_seq long, parent_url_hash long, round_added int, "
        "status string, attempt int, next_eligible_round int, priority double",
    )
    r = fetch(sched).collect()[0]
    assert r.status_code == synth.page_status(r.url)
    assert r.html == synth.page_html(r.url)
    assert r.size_bytes == len(r.html)
