"""Seeded benchmark inputs, built by wrapping the package's public
fixture builders (``sources.pages.build_page_row``, ``sources.sitegraph``).

The seed changes host and path spellings and the on-disk row order.
That moves ``url_key``, bloom-shard and shuffle placement, while counts,
link structure and the expected outputs stay fixed for a workload shape.
``build_pages_rows(seed=...)`` is not used: it ignores its seed.

Every builder writes its table as parquet and returns the reference
values its workload's output checks compare against, computed here in
plain Python rather than by the program under test.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass

from sharepointcrawler_spark.sources import sitegraph as sg
from sharepointcrawler_spark.sources.pages import (
    PAGES_SCHEMA,
    build_page_row,
    expected_markdown,
    make_doc_spec,
)

_STEMS = ["alder", "birch", "cedar", "delta", "ember", "fjord", "grove", "heron"]
_DOMAINS = ["example.com", "example.org", "example.net", "intra.example.com"]
_DIRS = ["docs", "library", "kb", "files", "pub", "content"]
_LEAVES = ["doc", "page", "item", "note", "rec"]


@dataclass(frozen=True)
class Spelling:
    """Seed-derived host and path names; every choice is a lowercase
    ASCII token, so each spelled URL is already canonical."""

    host_stem: str
    hot_host: str
    tenant_host: str
    domain: str
    dir_name: str
    folder: str
    leaf: str

    @classmethod
    def from_seed(cls, seed: int) -> "Spelling":
        rng = random.Random(seed)
        stem, hot, tenant = rng.sample(_STEMS, 3)
        return cls(
            host_stem=f"{stem}{rng.randrange(10, 100)}h",
            hot_host=f"{hot}-hot",
            tenant_host=f"{tenant}{rng.randrange(10, 100)}",
            domain=rng.choice(_DOMAINS),
            dir_name=rng.choice(_DIRS),
            folder=rng.choice(["sub", "dir", "f", "grp"]) + rng.choice("abcdxyz"),
            leaf=rng.choice(_LEAVES),
        )

    def host(self, k: int) -> str:
        return f"{self.host_stem}{k}.{self.domain}"


# ------------------------------------------------------------------ pages

_PAGE_URL_RE = re.compile(r"^https://(?:site(\d+)|(hot))\.example\.com/docs/doc(\d+)$")
_HREF_RE = re.compile(rb'href="([^"]+)"')


def respell_page_url(url: str, sp: Spelling) -> str:
    m = _PAGE_URL_RE.match(url)
    if m is None:
        raise ValueError(f"unexpected fixture url {url!r}")
    host = f"{sp.hot_host}.{sp.domain}" if m.group(2) else sp.host(int(m.group(1)))
    return f"https://{host}/{sp.dir_name}/{sp.leaf}{m.group(3)}"


def seeded_page_row(i: int, n: int, sp: Spelling, n_hosts: int, branching: int, hot: float | None):
    """``build_page_row`` with the row's own URL and every link target
    respelled; the golden ``text`` column is untouched."""
    url, ts, html, text, lang = build_page_row(i, n, n_hosts, branching, hot)
    html = _HREF_RE.sub(
        lambda m: b'href="' + respell_page_url(m.group(1).decode(), sp).encode() + b'"',
        html,
    )
    return respell_page_url(url, sp), ts, html, text, lang


@dataclass(frozen=True)
class PagesRef:
    n_pages: int
    n_links: int
    n_distinct_fp: int


@dataclass(frozen=True)
class FrontierRef:
    n_urls: int
    host_rank_sum: int
    host_rank_max: int


def _normalized(text: str) -> str:
    # the whitespace/case folding doc_fingerprint applies before md5
    return " ".join(text.lower().split())


def write_pages(spark, path: str, seed: int, n: int, n_hosts: int, branching: int,
                hot: float | None, n_partitions: int) -> PagesRef:
    """The page corpus, generated on the executors in seeded row order."""
    import pandas as pd

    sp = Spelling.from_seed(seed)
    order = list(range(n))
    random.Random(seed).shuffle(order)
    ids = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in order], n_partitions), "id long"
    )

    def gen(batches):
        for pdf in batches:
            rows = [seeded_page_row(int(i), n, sp, n_hosts, branching, hot) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    ids.mapInPandas(gen, PAGES_SCHEMA).write.parquet(path)

    fps = {
        _normalized(expected_markdown(make_doc_spec(i, random.Random(42 + i))))
        for i in range(n)
    }
    return PagesRef(
        n_pages=n,
        # every page but the root is one parent's child and links back
        # to the root
        n_links=2 * (n - 1),
        n_distinct_fp=len(fps),
    )


def write_frontier(path: str, seed: int, n: int, n_hosts: int, hot: float,
                   n_files: int = 8) -> FrontierRef:
    """A crawl frontier of ``n`` URLs on the pages' host layout (the
    first ``hot`` share on the hot host, the rest round-robin over
    ``n_hosts``), spelled and ordered by the seed. Written with pyarrow:
    a Spark write of this many driver-side rows would dominate set-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sp = Spelling.from_seed(seed)
    per_host: dict[str, int] = {}
    urls = []
    for j in range(n):
        host = f"{sp.hot_host}.{sp.domain}" if j / n < hot else sp.host(j % n_hosts)
        per_host[host] = per_host.get(host, 0) + 1
        urls.append(f"https://{host}/{sp.dir_name}/{sp.leaf}{j}")
    random.Random(seed).shuffle(urls)
    os.makedirs(path)
    step = -(-n // n_files)
    for k in range(n_files):
        pq.write_table(
            pa.table({"url": urls[k * step:(k + 1) * step]}),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )
    return FrontierRef(
        n_urls=n,
        host_rank_sum=sum(c * (c + 1) // 2 for c in per_host.values()),
        host_rank_max=max(per_host.values()),
    )


def url_sample(seed: int, n: int) -> list[str]:
    """URLs for the canonicalize timer: half already canonical (the fast
    path), half with an upper-case host, a default port and a dot
    segment."""
    sp = Spelling.from_seed(seed)
    out = []
    for i in range(n):
        host = sp.host(i % 32)
        if i % 2:
            out.append(f"HTTPS://{host.upper()}:443/{sp.dir_name}/./{sp.leaf}{i}")
        else:
            out.append(f"https://{host}/{sp.dir_name}/{sp.leaf}{i}")
    return out


# ------------------------------------------------------------ tenant tree


def tenant_tree(seed: int, depth: int, files: int, folders: int) -> sg.Node:
    """``sitegraph.balanced_tree`` on a seeded host with seeded folder
    and file names; sibling order, and so the expected pre-order, is
    unchanged."""
    sp = Spelling.from_seed(seed)
    root = sg.balanced_tree(
        host=f"{sp.tenant_host}.{sp.domain}", depth=depth,
        files_per_folder=files, folders_per_folder=folders,
    )
    root.url = root.url.rsplit("/", 1)[0] + f"/{sp.dir_name}"

    def walk(node: sg.Node) -> None:
        for child in node.children:
            name = child.url.rsplit("/", 1)[1]
            if child.kind == "file":
                name = sp.leaf + name[len("doc"):]
            else:
                name = sp.folder + name[len("sub"):]
            child.url = f"{node.url}/{name}"
            walk(child)

    walk(root)
    return root


def write_edges(spark, path: str, seed: int, root: sg.Node) -> None:
    """The tree's edge list plus a cross-link and a cycle back to the
    root (so the seen-set does real work), in seeded row order."""
    rows = sg.add_cross_links_and_cycle(sg.edges_from_tree(root), root.url)
    random.Random(seed).shuffle(rows)
    spark.createDataFrame(
        rows, "parent_url string, child_url string, kind string, sibling_idx int"
    ).coalesce(2).write.parquet(path)
