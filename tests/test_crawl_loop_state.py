"""Crawl-loop state kept by ``Crawler``: the shared session's settings
survive a failing epoch, and the written-path row count that gates the
broadcast fileExists join is exact."""

import pytest

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import Crawler
from goscrape_spark.sources.fixtures import (
    SITE_LINKS,
    SITE_LINKS_START,
    pages_df,
)

SETTINGS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def test_session_settings_restored_when_epoch_raises(spark, monkeypatch):
    before = [spark.conf.get(k) for k in SETTINGS]
    inside = []
    fetch = Crawler._fetch

    def failing_fetch(self, frontier, epoch):
        if epoch == 1:
            inside.extend(spark.conf.get(k) for k in SETTINGS)
            raise RuntimeError("fetch failed")
        return fetch(self, frontier, epoch)

    monkeypatch.setattr(Crawler, "_fetch", failing_fetch)
    c = Crawler(spark, CrawlConfig(url=SITE_LINKS_START),
                pages_df(spark, SITE_LINKS))
    with pytest.raises(RuntimeError, match="fetch failed"):
        c.run()
    # the loop did change both settings before the failure
    assert inside[0] != before[0] and inside[1] != before[1]
    assert [spark.conf.get(k) for k in SETTINGS] == before


def test_written_rows_counts_written_union(spark):
    """Colliding asset paths (query-string dups, a failed first writer, a
    page path hit by an asset) leave failed and skipped fetches that write
    nothing; the count must match the rows actually written."""
    pages = {
        "https://example.org/": ('<img src="https://cdn.x.com/i.png?v=1">'
                                 '<img src="https://cdn.x.com/i.png?v=2">'
                                 '<img src="https://cdn.x.com/j.png?v=1">'
                                 '<img src="https://cdn.x.com/j.png?v=2">'
                                 '<a href="/a">a</a><a href="/b">b</a>'),
        "https://cdn.x.com/i.png?v=1": "I1",
        "https://cdn.x.com/i.png?v=2": "I2",
        "https://cdn.x.com/j.png?v=2": "J2",
        "https://example.org/a": "page a",
        "https://example.org/b": '<img src="/a.html"><img src="/gone.png">',
    }
    c = Crawler(spark, CrawlConfig(url="https://example.org/"),
                pages_df(spark, pages))
    deltas = []
    checkpoint = c._localckpt

    def recording_checkpoint(df, label=""):
        out = checkpoint(df, label)
        if label == "written_delta":
            deltas.append(out)
        return out

    c._localckpt = recording_checkpoint
    c.run()
    written = deltas[0]
    for d in deltas[1:]:
        written = written.unionByName(d)
    assert c._written_rows == written.count() > 0
