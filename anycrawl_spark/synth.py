"""Deterministic synthetic web (seed=42): the fetch simulator's backing "internet".

No external network is allowed, so the "web" is a pure function
``url -> (status, html, links, latency, size)`` keyed by a blake2b digest of
the URL. Both the Spark fetch stage (``crawl/fetcher.py``) and the pure-Python
reference simulator (``crawl/simulator.py``) call the SAME functions in this
module, so content parity between the two paths is structural.

The generated HTML deliberately exercises the reference's extraction rules
(reference: packages/libs/src/html-to-markdown.ts:24-213,
packages/scrape/src/core/transformers/HTMLTransformer.ts:21-66,215-384):
paragraphs, emphasis, images with srcset, linked images, figures+captions,
nav/footer noise that must be stripped, relative + malformed + duplicate +
tracking-param links.

Scale story: because the web is a function, the frontier can grow to any size
(10^10 URLs) without materializing a graph table — there is no join against a
``web_graph`` table anywhere in the hot path.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

GLOBAL_SEED = 42

_TLDS = [".example.com", ".example.org", ".example.net", ".example.co.uk"]


def _digest(*parts: object) -> int:
    h = hashlib.blake2b(
        ("|".join(str(p) for p in parts) + f"|{GLOBAL_SEED}").encode(), digest_size=8
    )
    return int.from_bytes(h.digest(), "big")


@dataclass(frozen=True)
class WebConfig:
    """Shape of the synthetic web. n_hosts scales the universe."""

    n_hosts: int = 50
    mega_hosts: int = 2          # skewed hosts (exercise salting)
    mega_pages: int = 400
    min_pages: int = 5
    max_pages: int = 60
    cross_host_frac_pct: int = 12


DEFAULT_WEB = WebConfig()


def host_name(i: int, cfg: WebConfig = DEFAULT_WEB) -> str:
    tld = _TLDS[_digest("tld", i) % len(_TLDS)]
    return f"host{i:04d}{tld}"


def host_index(host: str) -> int:
    return int(host[4:8])


def host_pages(host: str, cfg: WebConfig = DEFAULT_WEB) -> int:
    i = host_index(host)
    if i < cfg.mega_hosts:
        return cfg.mega_pages
    return cfg.min_pages + _digest("npages", host) % (cfg.max_pages - cfg.min_pages)


def page_url(host: str, k: int) -> str:
    return f"http://{host}/p/{k}"


def page_status(url: str) -> int:
    r = _digest("status", url) % 100
    if r < 92:
        return 200
    if r < 96:
        return 404
    if r < 98:
        return 403
    return 500


def page_latency_ms(url: str) -> int:
    return 20 + _digest("latency", url) % 180


# out-links per page before the duplicate; page_hrefs adds the duplicate,
# the nav link and the linked-image anchor, so a page has at most
# MAX_PAGE_HREFS hrefs
MAX_OUT_LINKS = 10
MAX_PAGE_HREFS = MAX_OUT_LINKS + 3


def raw_out_links(url: str, host: str, cfg: WebConfig = DEFAULT_WEB) -> list[str]:
    """The raw hrefs embedded in the page, in DOM order.

    Mix of absolute, relative, malformed (``http:/``), tracking-param and
    duplicate links — each shape the reference's pipeline must normalize
    (reference: HTMLTransformer.ts:366-384 repair; Crawlee uniqueKey dedup).
    """
    if page_status(url) != 200:
        return []
    d = _digest("fanout", url)
    n_pages = host_pages(host, cfg)
    fanout = 2 + d % (MAX_OUT_LINKS - 1)
    links: list[str] = []
    for j in range(fanout):
        dj = _digest("link", url, j)
        target_page = dj % n_pages
        kind = dj % 100
        if kind < cfg.cross_host_frac_pct and cfg.n_hosts > 1:
            other = host_name(dj % cfg.n_hosts, cfg)
            tk = _digest("xpage", url, j) % host_pages(other, cfg)
            links.append(f"http://{other}/p/{tk}")
        elif kind < 30:
            links.append(f"/p/{target_page}")                       # relative
        elif kind < 40:
            links.append(f"http:/{host}/p/{target_page}")           # malformed
        elif kind < 50:
            links.append(
                f"http://{host}/p/{target_page}?utm_source=synth&ref={j % 3}"
            )                                                        # tracking junk
        else:
            links.append(f"http://{host}/p/{target_page}")
    if links and _digest("dup", url) % 3 == 0:
        links.append(links[0])                                       # duplicate
    return links


def page_hrefs(url: str, cfg: WebConfig = DEFAULT_WEB) -> list[str]:
    """ALL raw ``<a href>`` values of the page, in DOM order.

    This is the single source of truth: ``page_html`` renders anchors from this
    list, and the reference simulator consumes it directly — so the Spark HTML
    extractor is verified against it (link-set AND order). Mirrors Crawlee's
    ``enqueueLinks`` operating on the full DOM (reference: Base.ts:376-423),
    i.e. link discovery happens BEFORE non-main-content stripping.
    """
    if page_status(url) != 200:
        return []
    host = url.split("/")[2]
    d = _digest("layout", url)
    hrefs = ["/nav-skip"]
    if d % 5 == 0:
        hrefs.append("/p/0")  # linked-image anchor
    hrefs.extend(raw_out_links(url, host, cfg))
    return hrefs


_LOREM = (
    "crawl frontier schedule politeness budget robots gate dedup span "
    "assemble markdown media token bucket shard bloom shuffle partition "
    "skew salt broadcast superstep snapshot lineage metric"
).split()


def _words(url: str, tag: str, n: int) -> str:
    base = _digest("words", url, tag)
    return " ".join(_LOREM[(base + i * 7) % len(_LOREM)] for i in range(n))


def page_title(url: str) -> str:
    return f"Page {url.rsplit('/', 1)[-1]} of {url.split('/')[2]}"


def page_html(url: str, cfg: WebConfig = DEFAULT_WEB) -> str:
    """Deterministic page HTML exercising the span/markdown rule set."""
    status = page_status(url)
    if status != 200:
        return f"<html><head><title>{status}</title></head><body><p>error {status}</p></body></html>"
    host = url.split("/")[2]
    links = raw_out_links(url, host, cfg)
    d = _digest("layout", url)
    parts = [
        "<html><head>",
        f"<title>{page_title(url)}</title>",
        '<meta name="description" content="synthetic page">',
        f'<meta property="og:site_name" content="{host}">',
        "<script>var tracking=1;</script>",
        "</head><body>",
        '<header><nav><a href="/nav-skip">navigation to strip</a></nav></header>',
        f"<p>{_words(url, 'p1', 12)}</p>",
    ]
    # emphasis paragraph
    if d % 3 == 0:
        parts.append(
            f"<p>{_words(url, 'p2a', 4)} <em>{_words(url, 'em', 2)}</em> "
            f"<strong>{_words(url, 'strong', 2)}</strong> {_words(url, 'p2b', 4)}</p>"
        )
    # a plain image (media span)
    img1 = f"http://{host}/img/{d % 97}.png"
    parts.append(f'<p>before image</p><img src="/img/{d % 97}.png" alt="inline image">')
    # srcset image: largest descriptor must win as src (HTMLTransformer.ts:244-296)
    if d % 4 == 0:
        parts.append(
            f'<img src="/img/small_{d % 13}.png" alt="responsive" '
            f'srcset="/img/small_{d % 13}.png 1x, /img/big_{d % 13}.png 2x">'
        )
    # linked image rule (html-to-markdown.ts:103-124); href must stay in sync
    # with page_hrefs()
    if d % 5 == 0:
        parts.append(
            f'<a href="/p/0"><img src="/img/linked_{d % 7}.png" alt="linked"></a>'
        )
    # figure + figcaption (html-to-markdown.ts:127-142)
    if d % 6 == 0:
        parts.append(
            f'<figure><img src="/img/fig_{d % 11}.png" alt="figure image">'
            f"<figcaption>{_words(url, 'cap', 5)}</figcaption></figure>"
        )
    # div with span spacing rules
    parts.append(
        f"<div><span>{_words(url, 's1', 3)}</span> <span>{_words(url, 's2', 3)}</span></div>"
    )
    # links block, in DOM order
    parts.append("<div>")
    for i, href in enumerate(links):
        parts.append(f'<a href="{href}">link {i} {_words(url, f"a{i}", 2)}</a>')
    parts.append("</div>")
    parts.append(f"<p>{_words(url, 'p3', 10)}</p>")
    parts.append('<footer class="footer"><p>footer to strip</p></footer>')
    parts.append("<!-- synthetic comment --></body></html>")
    html = "".join(parts)
    _ = img1
    return html


# --- robots (new functionality; absent in the reference) -------------------

def robots_rules(cfg: WebConfig = DEFAULT_WEB) -> list[dict]:
    """~20% of hosts get a disallow prefix; ~30% get a crawl delay."""
    rules = []
    for i in range(cfg.n_hosts):
        host = host_name(i, cfg)
        d = _digest("robots", host)
        if d % 5 == 0:
            rules.append(
                {
                    "host": host,
                    "rule": "disallow",
                    "path_prefix": f"/p/{d % 7}",
                    "crawl_delay_ms": 0,
                }
            )
        if d % 10 < 3:
            rules.append(
                {
                    "host": host,
                    "rule": "allow",
                    "path_prefix": "/",
                    "crawl_delay_ms": 100 + (d % 5) * 100,
                }
            )
    return rules


def seed_jobs(n_jobs: int = 3, cfg: WebConfig = DEFAULT_WEB) -> list[dict]:
    """Deterministic crawl-job envelopes over the synthetic web."""
    strategies = ["same-hostname", "same-domain", "all"]
    jobs = []
    for j in range(n_jobs):
        host = host_name((j * 7) % cfg.n_hosts, cfg)
        jobs.append(
            {
                "job_id": f"job-{j:03d}",
                "seed_url": f"http://{host}/p/0",
                "engine": "cheerio",
                "strategy": strategies[j % len(strategies)],
                "max_depth": 10,
                "limit": 100,
                "include_paths": [],
                "exclude_paths": [],
                "scrape_paths": [],
                "status": "running",
            }
        )
    return jobs
