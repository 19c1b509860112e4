"""Seeded input generators and the on-disk input cache.

Each generator takes the seed as an argument and writes plain files; the
engine only ever sees those files. Alongside the files, a generator
returns the edge list it *intended* to encode (page indices, not parsed
titles), which the numpy reference replays independently of the engine's
parser.

A cache entry is a directory keyed by (workload, size, seed, generator
version). It is reused only when its completion sentinel exists, so an
entry left half-written by a killed run is rebuilt, never read.
"""

from __future__ import annotations

import json
import os
import shutil
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator's output for a given seed changes, so stale
# cache entries are never mistaken for current ones
GEN_VERSION = 1
SENTINEL = "_COMPLETE"

WIKI_PARTS = 8  # dump part files: one read task per part
LINK_PARTS = 4  # edge-list Parquet files


# --------------------------------------------------------------------------
# wiki_dump: a MediaWiki XML export with Zipf-linked pages
# --------------------------------------------------------------------------

_WORDS = (
    "alpha beta gamma delta river mountain city history science music "
    "region empire language theory village station season album film "
    "island bridge county treaty"
).split()


def _wiki_title(i: int) -> str:
    # one title in ten carries '&' so the XML-entity path is exercised
    return f"R&D Topic {i}" if i % 10 == 3 else f"Topic {i}"


def _link_markup(title: str, form: int) -> str:
    """One valid, existing-target link in one of the wiki spellings the
    engine normalizes: plain, aliased, underscored, padded."""
    if form == 0:
        return f"[[{title}]]"
    if form == 1:
        return f"[[{title}|the {title.lower()}]]"
    if form == 2:
        return f"[[{title.replace(' ', '_')}]]"
    return f"[[ {title} ]]"


def _invalid_markup(k: int, form: int) -> str:
    """Links the validity rule rejects: images, files, templates,
    section anchors and markup inside the target."""
    return (
        f"[[Image:Picture {k}.jpg|thumb|caption]]",
        f"[[File:Scan {k}.png]]",
        f"[[{{{{Template {k}}}}}]]",
        f"[[Topic {k}#History]]",
        f"[[<b>Topic {k}</b>]]",
    )[form]


def write_wiki_dump(out_dir: str, seed: int, pages: int) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """Write ``pages`` pages as ``WIKI_PARTS`` XML dump files.

    Returns ``(src, dst, titles)``: the intended edges as page indices
    (valid links to existing pages, before per-page dedup) and each
    page's normalized title (spaces to underscores), which is the id the
    engine ranks.

    Link mix per page: Poisson(8) links, of which about 80% name an
    existing page (Zipf popularity, exponent 1, in four spellings),
    10% are red links to missing pages and 10% are invalid.
    About 5% of pages have no links at all.
    """
    rng = np.random.default_rng(seed)
    popularity = rng.permutation(pages)
    weights = 1.0 / np.arange(1, pages + 1, dtype=np.float64)
    weights /= weights.sum()
    n_links = rng.poisson(8.0, pages)
    n_links[rng.random(pages) < 0.05] = 0
    total = int(n_links.sum())
    targets = popularity[rng.choice(pages, size=total, p=weights)]
    kinds = rng.choice(3, size=total, p=[0.8, 0.1, 0.1])  # valid/red/invalid
    forms = rng.integers(0, 5, size=total)
    filler = rng.integers(0, len(_WORDS), size=(total, 3))
    titles = [_wiki_title(i) for i in range(pages)]

    src: list[int] = []
    dst: list[int] = []
    os.makedirs(out_dir, exist_ok=True)
    files = [
        open(os.path.join(out_dir, f"pages-articles-{p:02d}.xml"), "w", encoding="utf-8")
        for p in range(WIKI_PARTS)
    ]
    try:
        for f in files:
            f.write('<mediawiki xml:lang="en">\n  <siteinfo>\n'
                    "    <sitename>Benchwiki</sitename>\n  </siteinfo>\n")
        pos = 0
        for i in range(pages):
            body = [f"'''{titles[i]}''' is a {_WORDS[i % len(_WORDS)]}."]
            for j in range(pos, pos + n_links[i]):
                kind, form, t = kinds[j], forms[j] % 4, int(targets[j])
                if kind == 0:
                    body.append(_link_markup(titles[t], form))
                    src.append(i)
                    dst.append(t)
                elif kind == 1:
                    body.append(f"[[Missing page {t}]]")
                else:
                    body.append(_invalid_markup(t, forms[j]))
                body.append(" ".join(_WORDS[w] for w in filler[j]))
                if form == 3:
                    body.append("{{cite web|url=http://example.org|title=x}}")
            pos += n_links[i]
            text = escape("\n".join(body))
            files[i % WIKI_PARTS].write(
                "  <page>\n"
                f"    <title>{escape(titles[i])}</title>\n"
                "    <ns>0</ns>\n"
                f"    <id>{i + 1}</id>\n"
                "    <revision>\n"
                f"      <id>{1000000 + i}</id>\n"
                f'      <text bytes="{len(text)}" xml:space="preserve">{text}</text>\n'
                "    </revision>\n"
                "  </page>\n"
            )
        for f in files:
            f.write("</mediawiki>\n")
    finally:
        for f in files:
            f.close()
    ids = [t.replace(" ", "_") for t in titles]
    return np.asarray(src, dtype=np.int64), np.asarray(dst, dtype=np.int64), ids


# --------------------------------------------------------------------------
# link_graph: a power-law edge list in Parquet
# --------------------------------------------------------------------------


def write_link_graph(out_dir: str, seed: int, vertices: int, edges: int) -> tuple[np.ndarray, np.ndarray]:
    """Write ``edges`` directed edges over ``vertices`` ids as
    ``LINK_PARTS`` Parquet files with string columns ``src, dst``.

    Sources are uniform; targets follow ``dst = floor(V * u**2.5)``, so
    in-degree is heavily skewed toward low ids (hubs). Duplicate edges
    and self-loops are kept in the file, as a crawl would produce them.
    Returns the intended ``(src, dst)`` integer arrays.
    """
    rng = np.random.default_rng(seed)
    src = rng.integers(0, vertices, size=edges, dtype=np.int64)
    dst = np.floor(vertices * rng.random(edges) ** 2.5).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, edges, LINK_PARTS + 1).astype(np.int64)
    for p in range(LINK_PARTS):
        lo, hi = bounds[p], bounds[p + 1]
        table = pa.table(
            {
                "src": pa.array(src[lo:hi].astype(str)),
                "dst": pa.array(dst[lo:hi].astype(str)),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{p:02d}.parquet"))
    return src, dst


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------


def cached(root: str, key: str, build) -> tuple[str, dict]:
    """Return ``(entry_dir, meta)`` for cache ``key`` under ``root``.

    ``build(entry_dir) -> meta`` writes the entry's files and returns a
    JSON-able dict (the reference answer and input facts). A complete
    entry is reused; anything else under the key is deleted and rebuilt.
    """
    entry = os.path.join(root, key)
    sentinel = os.path.join(entry, SENTINEL)
    meta_path = os.path.join(entry, "meta.json")
    if os.path.exists(sentinel):
        with open(meta_path) as f:
            return entry, json.load(f)
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(entry)
    meta = build(entry)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with open(sentinel, "w") as f:
        f.write("ok\n")
    return entry, meta
