"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md).

Pure function of (seed, scale knobs); no wall clock, no network, no Spark —
plain pandas/pyarrow so the same tables feed the Spark engine, the
pure-Python oracle crawler, and DuckDB.

Tables produced (schemas per FIXTURES.md / BASELINE.json input_hint):

* ``pages(url, warc_ts, html:binary, text, lang)`` — host pages with Zipf
  skew + jd-shaped list/detail/funder families mirroring
  /root/reference/example/jd/main.go.
* ``seeds(url, priority, seq)``
* ``robots(host, disallow_prefixes, crawl_delay_ms)``
* ``politeness(host, max_fetches_per_round)``

The ``text`` column is computed with
:func:`crawler_spark.rules.htmlpath.html_visible_text` — the byte-identical
per-row extraction invariant is defined against it.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from crawler_spark.rules.htmlpath import html_visible_text

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# jd example mirror (example/jd/main.go:20-40), shrunk deterministically
JD_CATEGORIES = {"10": "tech", "13": "charity", "38": "publish"}
JD_DETAIL_URL_FMT = "https://z.example/project/details/{}.html"
JD_FUNDER_URL_FMT = "https://z.example/funderCenter.action?flag=2&id={}"
JD_LIST_URL_FMT = "https://list.example/search/cat{}/page{}"


def _h(s: str) -> int:
    """Deterministic 32-bit hash (Python's hash() is salted per process)."""
    return zlib.crc32(s.encode("utf-8"))


def _host_page_counts(n_hosts: int, pages_per_host: int, rng: np.random.Generator) -> list[int]:
    """Zipf-ish skew: host 0 is hot, tail hosts are small."""
    raw = [max(3, int(pages_per_host * (1.0 / (h + 1) ** 0.7))) for h in range(n_hosts)]
    return raw


def _page_html(host: str, idx: int, n_pages: int, n_hosts: int, rng_seed: int) -> str:
    """One regular host page with outlinks, numeric spans and cut markers."""
    rng = np.random.default_rng(rng_seed)
    links: list[str] = []
    # forward links on same host (frontier growth)
    for j in range(1, 4):
        t = idx + j
        if t < n_pages:
            links.append(f"/p/{t}")
    # backlink (already-seen exercise)
    if idx > 0:
        links.append(f"/p/{idx - 1}")
    # cross-host absolute links
    n_cross = int(rng.integers(0, 4))
    for _ in range(n_cross):
        th = int(rng.integers(0, n_hosts))
        tp = int(rng.integers(0, 5))
        links.append(f"https://host{th}.example/p/{tp}")
    # duplicate within page (per-page distinct exercise)
    if links:
        links.append(links[0])
    # non-canonical form of a same-host link (canonicalization exercise)
    if idx + 1 < n_pages:
        links.append(f"HTTPS://HOST{host.removeprefix('host').removesuffix('.example')}.EXAMPLE:443/p/{idx + 1}#frag")
    # occasional dead link
    if idx % 7 == 3:
        links.append(f"https://{host}/dead/{idx}")

    anchors = "\n".join(f'<a href="{u}">link {k}</a>' for k, u in enumerate(links))
    nums = " ".join(str(int(rng.integers(0, 999))) for _ in range(4))
    return (
        f"<html><head><title>{host} page {idx}</title></head><body>\n"
        f'<div id="mainframe">\n'
        f"<h1>Page {idx} of {host}</h1>\n"
        f"<!--price-box-->span ￥<span>{int(rng.integers(1, 500))}</span> tier<!--price-box end-->\n"
        f"<p>numbers {nums}</p>\n"
        f"{anchors}\n"
        f"</div>\n</body></html>"
    )


def _jd_list_html(code: str, page_no: int, ids: list[int]) -> str:
    # duplicate first anchor within the page: per-page distinct exercise
    # (collector-url.go:31)
    show = ids + ids[:1]
    anchors = "\n".join(
        f'<li><a href="/project/details/{i}.html">proj {i}</a></li>' for i in show
    )
    return (
        f"<html><head><title>cat {code} page {page_no}</title></head><body>"
        f"<ul>{anchors}</ul></body></html>"
    )


def _jd_detail_html(pid: int, rng_seed: int) -> str:
    rng = np.random.default_rng(rng_seed)
    n_tiers = int(rng.integers(1, 5))
    prices = [int(rng.integers(1, 200)) * 10 for _ in range(n_tiers)]
    if n_tiers >= 2 and rng.random() < 0.4:
        prices[1] = prices[0]  # repeated equal tier → cross-level dup quirk
    tiers = []
    for t, p in enumerate(prices):
        lottery = "抽奖档 " if (t == n_tiers - 1 and rng.random() < 0.3) else ""
        tiers.append(
            f"<!--price-box--><div>{lottery}tier {t} ￥<span> {p} </span> backers</div><!--price-box end-->"
        )
    n_imgs = int(rng.integers(0, 4))
    imgs = "".join(f'<img alt="im{k}" src="/i/{k}.png">' for k in range(n_imgs))
    return (
        f"<html><head><title>project {pid}</title></head><body>"
        f'<p class="p-title">Project {pid} title</p>'
        f"<!-- 档位 -->{''.join(tiers)}<!--price-box无私奉献--><div>donate</div>"
        f"<!--图片部分-->{imgs}<!--图片部分end-->"
        f"<div>tail</div></body></html>"
    )


def _jd_funder_html(pid: int, rng_seed: int) -> str:
    rng = np.random.default_rng(rng_seed)
    supported = int(rng.integers(0, 40))
    started = int(rng.integers(0, 9))
    # structure addressable by //*[@id="mainframe"]/div[2]/div[1]/div[1]/div[2]/a[N]/i
    # (example/jd/main.go:116-141)
    return (
        f"<html><head><title>funder {pid}</title></head><body>"
        f'<div id="mainframe"><div>header</div>'
        f"<div><div><div><div>meta</div>"
        f'<div><a href="#s"><i> {supported} </i></a><a href="#h"><i> {started} </i></a></div>'
        f"</div></div></div></div></body></html>"
    )


def make_corpus(
    seed: int = 42,
    n_hosts: int = 20,
    pages_per_host: int = 30,
    jd_pages_per_category: int = 3,
    jd_projects_per_page: int = 4,
    n_seed_hosts: int = 8,
) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    counts = _host_page_counts(n_hosts, pages_per_host, rng)

    urls: list[str] = []
    htmls: list[str] = []

    for h in range(n_hosts):
        host = f"host{h}.example"
        for i in range(counts[h]):
            urls.append(f"https://{host}/p/{i}")
            htmls.append(_page_html(host, i, counts[h], n_hosts, seed * 1_000_003 + h * 4096 + i))

    # jd families
    pid = 1000
    for code in sorted(JD_CATEGORIES):
        for page_no in range(1, jd_pages_per_category + 1):
            ids = list(range(pid, pid + jd_projects_per_page))
            pid += jd_projects_per_page
            urls.append(JD_LIST_URL_FMT.format(code, page_no))
            htmls.append(_jd_list_html(code, page_no, ids))
            for i in ids:
                urls.append(JD_DETAIL_URL_FMT.format(i))
                htmls.append(_jd_detail_html(i, seed * 7 + i))
                urls.append(JD_FUNDER_URL_FMT.format(i))
                htmls.append(_jd_funder_html(i, seed * 13 + i))

    texts = [html_visible_text(h) for h in htmls]
    langs = [["en", "zh", "de", "fr"][_h(u) % 4] for u in urls]
    ts = [EPOCH + timedelta(seconds=i) for i in range(len(urls))]
    pages = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": [h.encode("utf-8") for h in htmls],
            "text": texts,
            "lang": langs,
        }
    )

    # seeds: first page of the first k hosts + 2 dead URLs (fetch-miss path)
    seed_urls = [f"https://host{h}.example/p/0" for h in range(min(n_seed_hosts, n_hosts))]
    seed_urls += ["https://deadhost.example/", "https://host0.example/missing/1"]
    seeds = pd.DataFrame(
        {
            "url": seed_urls,
            "priority": [(1 if i == 2 else 0) for i in range(len(seed_urls))],
            "seq": list(range(len(seed_urls))),
        }
    )

    hosts = sorted({f"host{h}.example" for h in range(n_hosts)} | {"deadhost.example"})
    robots = pd.DataFrame(
        {
            "host": hosts,
            "disallow_prefixes": [
                ["/p/9"] if _h(host) % 5 == 0 else [] for host in hosts
            ],
            "crawl_delay_ms": [100 * (1 + _h(host) % 3) for host in hosts],
        }
    )

    by_host_count = sorted(range(n_hosts), key=lambda h: -counts[h])
    hot = {f"host{h}.example" for h in by_host_count[: max(1, n_hosts // 10)]}
    politeness = pd.DataFrame(
        {
            "host": hosts,
            "max_fetches_per_round": [4 if host in hot else 16 for host in hosts],
        }
    )

    return {"pages": pages, "seeds": seeds, "robots": robots, "politeness": politeness}
