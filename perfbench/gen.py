"""Seeded input generators for the two workloads.

Every generator is a pure function of its arguments (the seed among them):
the same seed gives byte-identical inputs. Each returns, next to the data,
the facts the output checks need (the link graph, the expected texts) and
the input sizes the run reports.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from collections import Counter
from datetime import datetime, timedelta, timezone

# --------------------------------------------------------------------------
# crawl_wide: an arithmetic link graph
# --------------------------------------------------------------------------

REAL_LINKS = 10      # links per page to other real pages
DEAD_LINKS = 20      # links per page to urls with no page (fetch errors)
N_SECTIONS = 13      # /sec<k>/ path segment, k = id % N_SECTIONS
_P1, _P2, _P3 = 7919, 104729, 31337
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_WIDE_HEAD = (
    "<html><head><title>Page</title></head><body><div class='main-content'>"
    "<h1>P</h1><p>" + "word " * 120 + "</p><ul>"
)


def _wide_hosts(seed: int, n_pages: int, n_hosts: int) -> list:
    """[(host_index, first_id, n_pages)] with Zipf-skewed page counts
    (P(host k) ∝ 1/(k+1)); page ids are contiguous per host."""
    rng = random.Random(seed)
    weights = [1.0 / (k + 1) for k in range(n_hosts)]
    counts = Counter(rng.choices(range(n_hosts), weights=weights, k=n_pages - n_hosts))
    out, start = [], 0
    for h in range(n_hosts):
        n = counts[h] + 1
        out.append((h, start, n))
        start += n
    return out


def _host_name(h: int) -> str:
    return f"host{h}.example.com"


def wide_robots(n_hosts: int) -> dict:
    """host → disallowed prefixes: every 4th host bars /sec3, every 6th /sec1
    (which also bars /sec10../sec12 — prefix semantics)."""
    rules = {}
    for h in range(n_hosts):
        prefixes = []
        if h % 4 == 1:
            prefixes.append("/sec3")
        if h % 6 == 2:
            prefixes.append("/sec1")
        if prefixes:
            rules[_host_name(h)] = prefixes
    return rules


class WideGraph:
    """The crawl_wide link graph as arithmetic, shared by the page
    generator and the closure the output check computes.

    Pages are laid out by a seeded affine permutation ``perm`` of their ids:
    the seeds are ``perm(0..S-1)``, the other ``fanout * S`` pages are the
    children, and the real links of seed ``perm(k)`` go to children
    ``10k .. 10k + 9`` (mod the number of children). Every page is at depth 0
    or 1, so the crawl takes the same three supersteps for every seed: the
    seeds, then every child together with the seeds' dead links (over
    ``small_batch_threshold`` urls), then the children's dead links.
    Children link to pseudo-random pages, all of them already seen."""

    def __init__(self, seed: int, n_seeds: int, n_hosts: int, fanout: int):
        n_pages = n_seeds * (1 + fanout)
        self.seed, self.n_pages, self.n_hosts, self.n_seeds = seed, n_pages, n_hosts, n_seeds
        self.mult = next(m for m in (_P1, _P2, _P3) if math.gcd(m, n_pages) == 1)
        self.inv = pow(self.mult, -1, n_pages)
        self.shift = (seed * _P3) % n_pages
        self.hosts = _wide_hosts(seed, n_pages, n_hosts)
        self.host_of = []
        for h, _start, n in self.hosts:
            self.host_of.extend([h] * n)
        self.robots = wide_robots(n_hosts)
        self.seed_ids = sorted(self.perm(k) for k in range(n_seeds))

    def perm(self, i: int) -> int:
        return (i * self.mult + self.shift) % self.n_pages

    def rank(self, page: int) -> int:
        """The inverse of :meth:`perm`."""
        return ((page - self.shift) * self.inv) % self.n_pages

    def url(self, node: int, host: int) -> str:
        return f"https://{_host_name(host)}/sec{node % N_SECTIONS}/p{node}"

    def page_url(self, page: int) -> str:
        return self.url(page, self.host_of[page])

    def real_target(self, page: int, j: int) -> int:
        """Target of real link ``j`` (1..REAL_LINKS) of ``page``."""
        k, s = self.rank(page), self.n_seeds
        if k < s:
            return self.perm(s + (k * REAL_LINKS + j - 1) % (self.n_pages - s))
        return (page * _P1 + j * _P2 + self.seed * _P3) % self.n_pages

    def dead_target(self, page: int, j: int) -> int:
        return self.n_pages + page * DEAD_LINKS + j

    def html(self, page: int) -> bytes:
        """The page: filler text, its real links, its dead links and one
        image link (ignored by the crawler)."""
        host = self.host_of[page]
        links = [
            f'<li><a href="{self.page_url(self.real_target(page, j))}">next</a></li>'
            for j in range(1, REAL_LINKS + 1)
        ]
        links += [
            f'<li><a href="{self.url(self.dead_target(page, j), host)}">gone</a></li>'
            for j in range(DEAD_LINKS)
        ]
        links.append(f'<li><a href="/assets/img{page}.jpg">image</a></li>')
        return (_WIDE_HEAD + "".join(links) + "</ul></div></body></html>").encode()

    def expected_iterations(self) -> dict:
        """url → the superstep that must schedule it: the seeds at 0, then,
        level by level, every link of a page scheduled one superstep earlier
        that passes the ignore filter (every ignored link is an image url
        here) and the robots gate and was not scheduled before."""
        from apollo_service_spark.operators.robots import robots_allow_py

        def allowed(host: int, node: int) -> bool:
            return robots_allow_py(
                f"/sec{node % N_SECTIONS}/p{node}", self.robots.get(_host_name(host))
            )

        out = {self.page_url(p): 0 for p in self.seed_ids}
        level, iteration = list(self.seed_ids), 0
        while level:
            iteration += 1
            found = []
            for page in level:
                host = self.host_of[page]
                for j in range(DEAD_LINKS):
                    node = self.dead_target(page, j)
                    if allowed(host, node):
                        out[self.url(node, host)] = iteration
                for j in range(1, REAL_LINKS + 1):
                    t = self.real_target(page, j)
                    url = self.page_url(t)
                    if url not in out and allowed(self.host_of[t], t):
                        out[url] = iteration
                        found.append(t)
            level = found
        return out


def write_wide_pages(graph: WideGraph, out_dir: str, n_files: int) -> dict:
    """Write the crawl_wide pages parquet (url, warc_ts, html, text, lang)
    in ``n_files`` files and return input sizes.

    Written with pyarrow from the graph arithmetic: a few thousand pages
    take well under a second, where building the table with Spark costs
    about 10 s in a cold session, and set-up runs three times a run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for f in range(n_files):
        ids = range(f, graph.n_pages, n_files)
        table = pa.table(
            {
                "url": pa.array([graph.page_url(p) for p in ids], pa.string()),
                "warc_ts": pa.array(
                    [_EPOCH + timedelta(seconds=p % 86400) for p in ids],
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array([graph.html(p) for p in ids], pa.binary()),
                "text": pa.nulls(len(ids), pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return {
        "pages": graph.n_pages,
        "hosts": graph.n_hosts,
        "links": graph.n_pages * (REAL_LINKS + DEAD_LINKS + 1),
        "seeds": len(graph.seed_ids),
    }


# --------------------------------------------------------------------------
# corpus_pipeline: pages with prose, written as WARC segments
# --------------------------------------------------------------------------

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for", "with", "be"]


def _vocabulary(rng: random.Random, size: int) -> list:
    onsets = "b c d f g h j k l m n p r s t v w z br cl dr fl gr pl st tr".split()
    vowels = "a e i o u ai ea ou".split()
    words = set()
    while len(words) < size:
        n = rng.choice((2, 2, 3))
        words.add("".join(rng.choice(onsets) + rng.choice(vowels) for _ in range(n)))
    return sorted(words)


def _sentence(rng: random.Random, vocab: list) -> str:
    words = []
    for _ in range(rng.randint(8, 14)):
        words.append(rng.choice(STOPWORDS) if rng.random() < 0.35 else rng.choice(vocab))
    return " ".join(words)


class TextCorpus:
    """Articles of synthetic prose on a few hosts; every article links to
    three others on its host. The prose draws from a vocabulary large enough
    that distinct documents share few 3- and 4-word runs; duplicates are
    planted on purpose: exact copies (same title and body), near copies (one
    sentence changed) and copies of a sentence from a benchmark document
    (``doc_id % 50 == 0``), which decontamination must catch."""

    def __init__(self, seed: int, n_docs: int, n_hosts: int, vocab_size: int = 3000):
        rng = random.Random(seed)
        vocab = _vocabulary(rng, vocab_size)
        self.n_hosts = n_hosts
        self.bodies = []   # doc_id → (title, [paragraph, ...])
        for d in range(n_docs):
            kind = rng.random()
            if d > 60 and kind < 0.04:          # exact duplicate
                self.bodies.append(self.bodies[rng.randrange(d)])
                continue
            paras = [
                " ".join(_sentence(rng, vocab) + "." for _ in range(rng.randint(2, 4)))
                for _ in range(rng.randint(2, 3))
            ]
            title = " ".join(rng.choice(vocab) for _ in range(3))
            if d > 60 and kind < 0.08:          # near duplicate
                src_title, src_paras = self.bodies[rng.randrange(d)]
                paras = list(src_paras)
                paras[-1] = _sentence(rng, vocab) + "."
                title = src_title
            elif d > 60 and kind < 0.12:        # benchmark overlap
                bench = self.bodies[50 * rng.randrange(1 + (d - 1) // 50)]
                paras[0] = bench[1][0].split(".")[0] + ". " + paras[0]
            self.bodies.append((title, paras))

    def host(self, doc_id: int) -> str:
        return f"site{doc_id % self.n_hosts}.example.org"

    def url(self, doc_id: int) -> str:
        return f"https://{self.host(doc_id)}/articles/{doc_id}"

    def related(self, doc_id: int) -> list:
        """Three other articles on the same host."""
        n, h = len(self.bodies), doc_id % self.n_hosts
        on_host = range(h, n, self.n_hosts)
        i = doc_id // self.n_hosts
        return [on_host[(i + 1 + 5 * j) % len(on_host)] for j in range(3)]

    def html(self, doc_id: int) -> str:
        title, paras = self.bodies[doc_id]
        ps = "".join(f"<p>{p}</p>" for p in paras)
        related = "".join(
            f'<a href="/articles/{r}">more</a>' for r in self.related(doc_id)
        )
        return (
            f"<html><head><title>{title}</title></head><body>"
            "<nav class='top-bar'>home about contact</nav>"
            f"<div class='main-content'><h1>{title}</h1>{ps}</div>"
            f"<div class='related-links-wrapper'>{related}</div>"
            "<footer>footer text</footer></body></html>"
        )

    def pages(self) -> list:
        """[(url, warc_ts, html bytes)], one per article."""
        rows = []
        for d in range(len(self.bodies)):
            rows.append(
                (self.url(d), _EPOCH + timedelta(seconds=d), self.html(d).encode())
            )
        return rows


def write_warc_segments(corpus: TextCorpus, out_dir: str, n_segments: int) -> dict:
    """Serialize the corpus pages into ``n_segments`` .warc files (pure
    Python, ``sources.warc.build_warc_segment``); returns input sizes."""
    from apollo_service_spark.sources.warc import build_warc_segment

    os.makedirs(out_dir, exist_ok=True)
    pages = corpus.pages()
    total = 0
    for s in range(n_segments):
        recs = [(u, ts, html) for i, (u, ts, html) in enumerate(pages) if i % n_segments == s]
        blob = build_warc_segment(recs, f"segment-{s}")
        with open(os.path.join(out_dir, f"segment-{s:03d}.warc"), "wb") as f:
            f.write(blob)
        total += len(blob)
    return {
        "pages": len(pages),
        "hosts": corpus.n_hosts,
        "links": 3 * len(corpus.bodies),
        "docs": len(corpus.bodies),
        "warc_bytes": total,
    }
