"""Revalidating download cache — the reference's ingest layer.

Reference: get_file / download_file / get_file_latest_revision at
/root/reference/src/main.rs:95-149: HEAD for Content-Length, compare with
the local file size, re-download on mismatch, and report cache-hit. The
reference early-exits when every source was a cache hit
(src/main.rs:241-244); here the cache only avoids re-downloading, and
run_pipeline decides the early exit from the published pair's file times.

Driver-side by design — Spark executors read the *cached local files*; the
WAN fetch is a one-time driver action, not a distributed op. Upgrades over
the reference: an ETag validator when the server sends one, with the
reference's size check as the fallback (size equality is a weak revision
check), and streaming download (the reference buffers whole files in RAM).
A download writes a new file, so its mtime marks when the source last
changed locally.
"""

from __future__ import annotations

import json
import logging
import shutil
import urllib.request
from dataclasses import dataclass
from pathlib import Path

log = logging.getLogger(__name__)


@dataclass
class FetchResult:
    path: Path
    cache_hit: bool  # read by perfbench's traced cache.hit_ratio only


def _head(url: str, timeout: float) -> dict[str, str]:
    req = urllib.request.Request(url, method="HEAD")
    with urllib.request.urlopen(req, timeout=timeout) as r:  # noqa: S310
        return {k.lower(): v for k, v in r.headers.items()}


def _download(url: str, dest: Path, timeout: float) -> dict[str, str]:
    """Stream to <dest>.part then atomically publish; returns the GET
    response headers so validators describe the bytes actually written
    (a HEAD taken earlier could describe a different remote revision)."""
    tmp = dest.with_suffix(dest.suffix + ".part")
    with urllib.request.urlopen(url, timeout=timeout) as r:  # noqa: S310
        headers = {k.lower(): v for k, v in r.headers.items()}
        with open(tmp, "wb") as f:
            shutil.copyfileobj(r, f)
    tmp.replace(dest)  # atomic publish — no torn files on crash
    return headers


class SourceCache:
    """Cache dir of remote files with size/ETag revalidation.

    The ETag is persisted next to each file as `<name>.meta.json` so ETag
    checks survive process restarts (the reference re-derives state
    from file size alone, src/main.rs:134-146).
    """

    def __init__(self, cache_dir: str | Path, timeout: float = 3600.0) -> None:
        # 3600 s mirrors the reference's HTTP timeout (src/main.rs:96)
        self.dir = Path(cache_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        self.timeout = timeout

    def _meta_path(self, name: str) -> Path:
        return self.dir / f"{name}.meta.json"

    def _load_meta(self, name: str) -> dict:
        try:
            return json.loads(self._meta_path(name).read_text())
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def _save_meta(self, name: str, headers: dict[str, str]) -> None:
        keep = {"etag": headers["etag"]} if "etag" in headers else {}
        self._meta_path(name).write_text(json.dumps(keep))

    def _is_fresh(self, local: Path, name: str, headers: dict[str, str]) -> bool:
        if not local.exists():
            return False
        meta = self._load_meta(name)
        etag = headers.get("etag")
        if etag and meta.get("etag"):
            return etag == meta["etag"]
        remote_len = headers.get("content-length")
        if remote_len is not None:
            # the reference's check: local size == remote Content-Length
            return local.stat().st_size == int(remote_len)
        return True  # no validator at all → trust the cache

    def get(self, name: str, url: str) -> FetchResult:
        """Cache-or-download one file (src/main.rs:114-149).

        A transient HEAD failure degrades to the cached copy (with a
        warning) instead of failing the run — the reference would abort
        even with a perfectly good local file on disk.
        """
        local = self.dir / name
        try:
            headers = _head(url, self.timeout)
        except OSError as e:
            if local.exists():
                log.warning("HEAD %s failed (%s); using cached %s", url, e, local)
                return FetchResult(local, cache_hit=True)
            raise
        if self._is_fresh(local, name, headers):
            return FetchResult(local, cache_hit=True)
        got = _download(url, local, self.timeout)
        # persist validators from the GET response (the bytes we actually
        # stored), falling back to HEAD's for any the GET omitted
        self._save_meta(name, {**headers, **got})
        return FetchResult(local, cache_hit=False)


def pricecatcher_urls(month: str, base: str = "https://storage.data.gov.my") -> dict[str, str]:
    """The reference's three source URLs for one month (src/main.rs:219,226,233)."""
    return {
        "lookup_item.parquet": f"{base}/pricecatcher/lookup_item.parquet",
        "lookup_premise.parquet": f"{base}/pricecatcher/lookup_premise.parquet",
        f"pricecatcher_{month}.parquet": f"{base}/pricecatcher/pricecatcher_{month}.parquet",
    }
