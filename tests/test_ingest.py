"""Unit tests for the ingest layer: catalog discovery + revalidating cache.

Reference behaviors pinned: the HTML section/link selector semantics
(src/main.rs:75-89), month-key normalization '/'→'-' (src/main.rs:87-89),
month selection incl. the fixed off-by-one (src/main.rs:169-189), size/ETag
revalidation (src/main.rs:104-149), and the three source URLs
(src/main.rs:219,226,233). The early exit (src/main.rs:241-244) is not the
cache's: run_pipeline decides it from the published pair's file times, and
tests/test_pipeline.py covers it. No real network: a local HTTP server
serves the cache tests, catalog uses an injected fetcher.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from opendosm_parquet_to_sqlite_spark.sources.cache import (
    SourceCache,
    pricecatcher_urls,
)
from opendosm_parquet_to_sqlite_spark.sources.catalog import (
    discover_months,
    parse_catalog_html,
    pick_month,
)

pytestmark = pytest.mark.product

CATALOG_HTML = """
<html><body>
<section><h2>Other: Fuel Prices</h2>
  <a href="/x">FuelPrice: 2024/01</a>
</section>
<section><h2>Prices: PriceCatcher</h2>
  <a href="/a">PriceCatcher: 2023/11</a>
  <a href="/b">PriceCatcher: 2023/12</a>
  <section><div><a href="/c">PriceCatcher: 2024/01</a></div></section>
  <a href="/d">not a record</a>
</section>
<section><h2>After</h2><a href="/e">PriceCatcher: 2099/01</a></section>
</body></html>
"""


# --- catalog ------------------------------------------------------------------


def test_parse_catalog_html_selector_semantics():
    months = parse_catalog_html(CATALOG_HTML)
    # only the PriceCatcher section's links, order preserved, '/'→'-',
    # nested sections included, non-matching link texts skipped
    assert months == ["2023-11", "2023-12", "2024-01"]


def test_discover_months_injected_fetch():
    months = discover_months(fetch=lambda url, timeout: CATALOG_HTML)
    assert months[-1] == "2024-01"


def test_discover_months_empty_raises():
    with pytest.raises(RuntimeError, match="no PriceCatcher records"):
        discover_months(fetch=lambda url, timeout: "<html></html>")


def test_pick_month():
    months = ["2023-11", "2023-12", "2024-01"]
    assert pick_month(months) == "2024-01"  # no choice → newest (--latest)
    # the last valid index IS selectable (reference off-by-one fixed,
    # src/main.rs:178)
    assert pick_month(months, choice=2) == "2024-01"
    assert pick_month(months, choice=0) == "2023-11"
    with pytest.raises(IndexError):
        pick_month(months, choice=3)


def test_pricecatcher_urls_match_reference():
    urls = pricecatcher_urls("2024-01")
    assert urls == {
        "lookup_item.parquet":
            "https://storage.data.gov.my/pricecatcher/lookup_item.parquet",
        "lookup_premise.parquet":
            "https://storage.data.gov.my/pricecatcher/lookup_premise.parquet",
        "pricecatcher_2024-01.parquet":
            "https://storage.data.gov.my/pricecatcher/pricecatcher_2024-01.parquet",
    }


# --- cache (real HTTP against a local server) ---------------------------------


class _Handler(BaseHTTPRequestHandler):
    """Serves self.server.files {path: (bytes, etag|None)} with a fixed
    Last-Modified; counts requests."""

    def _serve(self, body: bool) -> None:
        entry = self.server.files.get(self.path)
        if entry is None:
            self.send_error(404)
            return
        data, etag = entry
        self.server.counts[(self.command, self.path)] = (
            self.server.counts.get((self.command, self.path), 0) + 1
        )
        self.send_response(200)
        self.send_header("Content-Length", str(len(data)))
        if etag:
            self.send_header("ETag", etag)
        self.send_header("Last-Modified", "Mon, 01 Jan 2024 00:00:00 GMT")
        self.end_headers()
        if body:
            self.wfile.write(data)

    def do_HEAD(self):  # noqa: N802
        self._serve(body=False)

    def do_GET(self):  # noqa: N802
        self._serve(body=True)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def http_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.files = {}
    srv.counts = {}
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    t.join()


def _url(srv, path):
    return f"http://127.0.0.1:{srv.server_address[1]}{path}"


def test_cache_miss_then_etag_hit(http_server, tmp_path):
    http_server.files["/f.parquet"] = (b"payload-v1", '"v1"')
    cache = SourceCache(tmp_path, timeout=5)
    r1 = cache.get("f.parquet", _url(http_server, "/f.parquet"))
    assert not r1.cache_hit and r1.path.read_bytes() == b"payload-v1"
    assert not list(tmp_path.glob("*.part"))  # atomic publish, no leftovers
    r2 = cache.get("f.parquet", _url(http_server, "/f.parquet"))
    assert r2.cache_hit
    assert http_server.counts[("GET", "/f.parquet")] == 1  # no second download


def test_cache_redownloads_on_etag_change(http_server, tmp_path):
    http_server.files["/f.parquet"] = (b"payload-v1", '"v1"')
    cache = SourceCache(tmp_path, timeout=5)
    cache.get("f.parquet", _url(http_server, "/f.parquet"))
    # same length, different content + etag — size check alone would miss this
    http_server.files["/f.parquet"] = (b"payload-v2", '"v2"')
    r = cache.get("f.parquet", _url(http_server, "/f.parquet"))
    assert not r.cache_hit and r.path.read_bytes() == b"payload-v2"


def test_cache_size_revalidation_without_etag(http_server, tmp_path):
    """No ETag → the reference's check: local size vs Content-Length
    (src/main.rs:134-146)."""
    http_server.files["/f.parquet"] = (b"12345", None)
    cache = SourceCache(tmp_path, timeout=5)
    r1 = cache.get("f.parquet", _url(http_server, "/f.parquet"))
    assert not r1.cache_hit
    assert cache.get("f.parquet", _url(http_server, "/f.parquet")).cache_hit
    http_server.files["/f.parquet"] = (b"123456789", None)  # length changed
    r3 = cache.get("f.parquet", _url(http_server, "/f.parquet"))
    assert not r3.cache_hit and r3.path.read_bytes() == b"123456789"


def test_cache_sidecar_keeps_only_read_validators(http_server, tmp_path):
    """Only the ETag is stored: nothing revalidates on Last-Modified, and
    the size check compares the HEAD's Content-Length with the file. An
    older sidecar that still holds both loads as before."""
    http_server.files["/f.parquet"] = (b"payload-v1", '"v1"')
    url = _url(http_server, "/f.parquet")
    cache = SourceCache(tmp_path, timeout=5)
    cache.get("f.parquet", url)
    meta = tmp_path / "f.parquet.meta.json"
    assert json.loads(meta.read_text()) == {"etag": '"v1"'}
    meta.write_text(json.dumps({
        "content-length": "10", "etag": '"v1"',
        "last-modified": "Mon, 01 Jan 2024 00:00:00 GMT",
    }))
    assert cache.get("f.parquet", url).cache_hit
    http_server.files["/f.parquet"] = (b"payload-v2", '"v2"')
    assert not cache.get("f.parquet", url).cache_hit
    assert http_server.counts[("GET", "/f.parquet")] == 2


def test_cache_offline_fallback(http_server, tmp_path):
    """HEAD failure degrades to the cached copy; with no cached copy it
    raises (the reference always aborts)."""
    http_server.files["/f.parquet"] = (b"data", '"v1"')
    url = _url(http_server, "/f.parquet")
    cache = SourceCache(tmp_path, timeout=5)
    cache.get("f.parquet", url)
    del http_server.files["/f.parquet"]  # now 404s → HEAD raises
    r = cache.get("f.parquet", url)
    assert r.cache_hit and r.path.read_bytes() == b"data"
    with pytest.raises(OSError):
        cache.get("missing.parquet", _url(http_server, "/missing.parquet"))
