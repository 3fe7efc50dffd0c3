"""Remote dataset catalog discovery.

Reference: get_pricecatcher_records at /root/reference/src/main.rs:68-93 —
scrape the open-data catalogue HTML, locate the section whose first text is
"Prices: PriceCatcher", collect link texts "PriceCatcher: YYYY/MM", and
normalize to "yyyy-mm" keys.

This is inherently driver-side (a catalog fetch, not a data scan); the
output is the list of month partition keys that parameterize the distributed
reads. The HTML parsing is dependency-free (html.parser) and the fetcher is
injectable so tests never touch the network.
"""

from __future__ import annotations

import re
import urllib.request
from collections.abc import Callable
from html.parser import HTMLParser

CATALOG_URL = "https://open.dosm.gov.my/data-catalogue"
SECTION_TITLE = "Prices: PriceCatcher"
RECORD_RE = re.compile(r"PriceCatcher\s*:\s*(\d{4})/(\d{2})")


class _SectionLinkParser(HTMLParser):
    """Collect <a> texts inside the <section> whose first text node matches
    SECTION_TITLE (the reference's scraper selector, src/main.rs:75-84)."""

    def __init__(self) -> None:
        super().__init__()
        self.in_section = False
        self.section_depth = 0
        self.awaiting_title = False
        self.in_link = False
        self.links: list[str] = []
        self._link_text: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "section":
            if self.in_section:
                self.section_depth += 1
            else:
                self.awaiting_title = True
        elif self.in_section and tag == "a":
            self.in_link = True
            self._link_text = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "section":
            if self.in_section:
                if self.section_depth:
                    self.section_depth -= 1
                else:
                    self.in_section = False
            self.awaiting_title = False
        elif tag == "a" and self.in_link:
            self.in_link = False
            self.links.append("".join(self._link_text).strip())

    def handle_data(self, data: str) -> None:
        text = data.strip()
        if self.awaiting_title and text:
            self.awaiting_title = False
            if text == SECTION_TITLE:
                self.in_section = True
        if self.in_link:
            self._link_text.append(data)


def parse_catalog_html(html: str) -> list[str]:
    """HTML → ordered month keys ['yyyy-mm', ...] (reference normalizes
    '/'→'-', src/main.rs:87-89). Order preserved: last = newest."""
    p = _SectionLinkParser()
    p.feed(html)
    out = []
    for text in p.links:
        m = RECORD_RE.search(text)
        if m:
            out.append(f"{m.group(1)}-{m.group(2)}")
    return out


def _default_fetch(url: str, timeout: float) -> str:
    with urllib.request.urlopen(url, timeout=timeout) as r:  # noqa: S310
        return r.read().decode("utf-8", errors="replace")


def discover_months(
    url: str = CATALOG_URL,
    fetch: Callable[[str, float], str] | None = None,
    timeout: float = 60.0,
) -> list[str]:
    """Fetch + parse the catalog. Raises RuntimeError when nothing is found
    (the reference would return an empty menu and loop forever on stdin)."""
    html = (fetch or _default_fetch)(url, timeout)
    months = parse_catalog_html(html)
    if not months:
        raise RuntimeError(f"no PriceCatcher records found at {url}")
    return months


def pick_month(months: list[str], choice: int | None = None) -> str:
    """Dataset selection (src/main.rs:169-189): the newest month, or the
    month at catalog index `choice`. The reference's interactive loop has an
    off-by-one (`num > len - 1` rejects the last valid index,
    src/main.rs:178); here any 0 <= choice < len is accepted."""
    if choice is None:
        return months[-1]
    if not 0 <= choice < len(months):
        raise IndexError(f"choice {choice} out of range 0..{len(months) - 1}")
    return months[choice]
