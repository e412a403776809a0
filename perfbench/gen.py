"""Seeded input generators owned by the benchmark.

Every byte written here is a function of the ``seed`` argument alone: the
same seed gives byte-identical files, another seed gives different ones
(``selftest.py`` checks both). The engine receives only the files; the
ground truth each generator returns is what ``reference.py`` checks the
engine's outputs against.
"""

from __future__ import annotations

import gzip
import os
import re
import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# schedule: candidate links of one crawl wave, the seen set, budgets
# --------------------------------------------------------------------------
_SEGMENTS = ["contact", "locations", "about", "company", "team", "services",
             "press", "faq", "help", "partners", "events", "gallery"]
_EXCLUDED = ["login", "blog/post", "news/today", "product/x", "cart",
             "search", "styles.css", "logo.png", "doc.pdf", "privacy"]


def _host(h: int) -> str:
    return f"h{h:05d}.example.org"


def schedule_inputs(out_dir: str, seed: int, n_parents: int = 10_000,
                    n_hosts: int = 2_000, links_per_page: int = 20,
                    n_seen_extra: int = 50_000) -> dict:
    """Write ``links.parquet`` (one row per href on a fetched parent page),
    ``seen.parquet`` (the URL-seen set), ``max_seq.parquet`` and
    ``remaining.parquet`` (per-host frontier position and page budget).

    Parents are spread over ``n_hosts`` with a Zipf-like skew (host 0 is
    hot). Hrefs mix same-host targets drawn from a small per-host pool (so
    targets repeat within and across pages), query/fragment junk that
    canonicalizes onto those targets, www. aliases, excluded paths and
    extensions, off-domain links, non-http schemes and relative hrefs.
    About 40% of each host's target pool is already in the seen set.
    """
    rng = np.random.default_rng([seed, 1])
    weights = 1.0 / np.arange(1, n_hosts + 1) ** 0.8
    parent_host = np.sort(rng.choice(n_hosts, size=n_parents, p=weights / weights.sum()))
    pool = 8 + rng.integers(0, 60, size=n_hosts)  # distinct targets per host

    def target(h: int, t: int) -> str:
        return f"https://{_host(h)}/{_SEGMENTS[t % len(_SEGMENTS)]}/p{t}"

    rows_host, rows_pseq, rows_purl, rows_depth, rows_idx, rows_href = \
        [], [], [], [], [], []
    next_seq = np.zeros(n_hosts, dtype=np.int64)
    kinds = rng.integers(0, 100, size=(n_parents, links_per_page))
    picks = rng.integers(0, 1 << 30, size=(n_parents, links_per_page))
    for i in range(n_parents):
        h = int(parent_host[i])
        host = _host(h)
        next_seq[h] += 1 + int(picks[i, 0] % 3)
        pseq = int(next_seq[h])
        purl = target(h, int(picks[i, 1] % pool[h]))
        depth = int(picks[i, 2] % 4)
        for j in range(links_per_page):
            k, r = int(kinds[i, j]), int(picks[i, j])
            t = r % int(pool[h])
            if k < 56:
                href = target(h, t)
            elif k < 64:
                href = f"{target(h, t)}?utm_source=feed&ref={j}"
            elif k < 68:
                href = f"{target(h, t)}#section{j}"
            elif k < 72:
                href = f"https://www.{host}/{_SEGMENTS[t % len(_SEGMENTS)]}/p{t}"
            elif k < 80:
                href = f"https://{host}/{_EXCLUDED[r % len(_EXCLUDED)]}"
            elif k < 88:
                href = target((h + 1 + r % 97) % n_hosts, t)
            elif k < 92:
                href = ["javascript:void(0)", f"mailto:info@{host}",
                        "tel:+15550100"][r % 3]
            elif k < 96:
                href = f"/{_SEGMENTS[t % len(_SEGMENTS)]}/p{t}"
            else:
                href = f"http://{host}/{_SEGMENTS[t % len(_SEGMENTS)]}/p{t}"
            rows_host.append(host)
            rows_pseq.append(pseq)
            rows_purl.append(purl)
            rows_depth.append(depth)
            rows_idx.append(j)
            rows_href.append(href)
    links = pd.DataFrame({
        "seed_host": rows_host, "parent_seq": np.array(rows_pseq, np.int64),
        "parent_url": rows_purl, "parent_depth": np.array(rows_depth, np.int32),
        "link_idx": np.array(rows_idx, np.int32), "href": rows_href,
    })

    seen_host, seen_url = [], []
    seen_draw = rng.random(size=(n_hosts, int(pool.max())))
    for h in range(n_hosts):
        for t in range(int(pool[h])):
            if seen_draw[h, t] < 0.4:
                seen_host.append(_host(h))
                seen_url.append(target(h, t))
    extra_h = rng.integers(0, n_hosts, size=n_seen_extra)
    for n, h in enumerate(extra_h):
        seen_host.append(_host(int(h)))
        seen_url.append(f"https://{_host(int(h))}/archive/p{1000 + n}")
    seen = pd.DataFrame({"seed_host": seen_host, "url": seen_url})

    hosts = [_host(h) for h in range(n_hosts)]
    max_seq = pd.DataFrame({
        "seed_host": hosts,
        "max_seq": (next_seq + rng.integers(0, 500, size=n_hosts)).astype(np.int64),
    })
    remaining = pd.DataFrame({
        "seed_host": hosts,
        "remaining": rng.integers(0, 40, size=n_hosts).astype(np.int32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, df in (("links", links), ("seen", seen), ("max_seq", max_seq),
                     ("remaining", remaining)):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"))
    return {"links": links, "seen": seen, "max_seq": max_seq,
            "remaining": remaining}


# --------------------------------------------------------------------------
# ingest: a .warc.gz archive of HTML pages and PNG payloads
# --------------------------------------------------------------------------
def png_bytes(pixels: np.ndarray) -> bytes:
    """Minimal RGB8 PNG (filter 0 on every scanline), independent of the
    engine's own encoder."""
    h, w, _ = pixels.shape
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))

    def chunk(kind: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + kind + data
                + struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def png_pixels(data: bytes) -> np.ndarray:
    """Decode a PNG written by :func:`png_bytes` (the check's decoder)."""
    w, h = struct.unpack(">II", data[16:24])
    pos, idat = 8, b""
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        if data[pos + 4:pos + 8] == b"IDAT":
            idat += data[pos + 8:pos + 8 + n]
        pos += 12 + n
    rows = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, 1 + 3 * w)
    if rows[:, 0].any():
        raise ValueError("unexpected PNG filter")
    return rows[:, 1:].reshape(h, w, 3).copy()


def _record(uri: str, date: str, content_type: str, body: bytes) -> bytes:
    msg = (f"HTTP/1.1 200 OK\r\nContent-Type: {content_type}\r\n\r\n"
           .encode("ascii") + body)
    head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
            f"WARC-Date: {date}\r\nContent-Length: {len(msg)}\r\n\r\n")
    return head.encode("ascii") + msg + b"\r\n\r\n"


_IMG_RE = re.compile(r'<img src="/images/(img_\d+)\.png" alt="([^"]*)">')


def ingest_archive(archive_dir: str, seed: int, n_hosts: int = 8,
                   pages: int = 60) -> dict:
    """One .warc.gz shard per host: an HTML response per SyntheticWeb page,
    one gallery page per host that re-references some of the host's
    images under new alt text, and one image/png response per referenced
    image. About 10% of images copy another host's pixels exactly and 10%
    copy them with a small perturbation (planted exact and near
    duplicates).

    Returns the ground truth: ``images`` maps each image URL to
    (pixels, set of captions that reference it, exact-dup group or None),
    plus ``records`` and ``bytes`` of the archive."""
    from web_crawler_spark.images import synth_pixels
    from web_crawler_spark.synthetic.web import SyntheticWeb

    rng = np.random.default_rng([seed, 2])
    web = SyntheticWeb(n_hosts=n_hosts, pages_per_host=pages, seed=seed)
    per_host: list[list[tuple[str, bytes]]] = []
    refs: dict[str, set[str]] = {}          # image url -> captions
    order: list[tuple[int, str, str]] = []  # (host, image id, url)
    for h in range(n_hosts):
        host = web.host(h)
        recs = []
        host_imgs: list[str] = []
        for p in range(web.n_pages(h)):
            body = web.body(h, p)
            for img, cap in _IMG_RE.findall(body):
                url = f"https://{host}/images/{img}.png"
                if url not in refs:
                    refs[url] = set()
                    host_imgs.append(img)
                    order.append((h, img, url))
                refs[url].add(cap)
            recs.append((web.url(h, p), _record(
                web.url(h, p), "2024-01-15T00:00:00Z",
                "text/html; charset=utf-8", body.encode("utf-8"))))
        tags = []
        for n, img in enumerate(host_imgs[: len(host_imgs) // 4]):
            cap = f"Gallery view {n + 1} of {host.split('.')[0]} premises"
            refs[f"https://{host}/images/{img}.png"].add(cap)
            tags.append(f'<img src="/images/{img}.png" alt="{cap}">')
        gallery = (f"<html><body><h1>Gallery</h1>{''.join(tags)}"
                   "</body></html>").encode("utf-8")
        uri = f"https://{host}/gallery/all"
        recs.append((uri, _record(uri, "2024-01-15T00:00:00Z",
                                  "text/html; charset=utf-8", gallery)))
        per_host.append(recs)

    images: dict[str, tuple] = {}
    draws = rng.random(len(order))
    for i, (h, img, url) in enumerate(order):
        w = 64 + int(rng.integers(0, 4)) * 16
        hh = 64 + int(rng.integers(0, 3)) * 16
        px = synth_pixels(img, w, hh)
        group = None
        if i > 0 and draws[i] < 0.2:
            src_url = order[int(rng.integers(0, i))][2]
            if not src_url.startswith(f"https://{web.host(h)}/"):
                px = images[src_url][0].copy()  # duplicates cross hosts
                if draws[i] < 0.1:
                    group = images[src_url][2] or src_url
                else:
                    px[:4, :4] ^= 1  # near duplicate: phash-close, bytes differ
        images[url] = (px, refs[url], group)
        per_host[h].append((url, _record(url, "2024-01-15T00:00:01Z",
                                         "image/png", png_bytes(px))))

    os.makedirs(archive_dir, exist_ok=True)
    total_bytes = 0
    for h, recs in enumerate(per_host):
        path = os.path.join(archive_dir, f"{web.host(h)}.warc.gz")
        with open(path, "wb") as fh:
            for _, rec in recs:
                fh.write(gzip.compress(rec, mtime=0))
        total_bytes += os.path.getsize(path)
    return {"images": images, "records": sum(len(r) for r in per_host),
            "bytes": total_bytes}


# --------------------------------------------------------------------------
# query: the registry's input tables, at the size of the sf0.001 fixtures
# --------------------------------------------------------------------------
_WORDS = ["the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
          "window", "small", "hash", "join", "batch", "stream", "spark", "dup",
          "crawl", "page", "link", "host", "frontier", "index", "query", "plan",
          "shuffle", "filter", "image", "caption", "record"]
_ADJ = ["cold", "small", "large", "red", "blue", "steel", "bright", "quiet"]
_NOUN = ["widget", "bolt", "gear", "valve", "panel", "spring", "lamp", "hinge"]
_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def query_tables(out_dir: str, seed: int, n_orders: int = 1_500, n_docs: int = 500,
                 n_vecs: int = 500, n_parts: int = 200, n_suppliers: int = 10) -> dict:
    """Write ``lineitem``, ``orders``, ``documents``, ``embeddings``,
    ``part`` and ``supplier`` parquet tables with the schemas of the
    repository's fixture tables, which the query mix reads. About 10% of
    documents are one-word edits of an earlier document (near duplicates)
    and embeddings cluster around ten labelled centres. Returns the row
    count of each table."""
    rng = np.random.default_rng([seed, 3])
    ts = lambda days: (np.datetime64("1992-01-01", "us")  # noqa: E731
                       + days.astype("timedelta64[D]").astype("timedelta64[us]"))

    n_cust = max(1, n_orders // 10)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_orders), 2),
        "o_orderdate": ts(rng.integers(0, 3_650, n_orders)),
        "o_orderpriority": rng.choice(_PRIO, n_orders),
    })
    n_li = 4 * n_orders
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts(rng.integers(0, 3_650, n_li)),
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })

    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centres[labels] + 0.3 * rng.normal(size=(n_vecs, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })

    part = pd.DataFrame({
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(_ADJ), n_parts), rng.integers(0, len(_NOUN), n_parts))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_parts)],
        "p_type": rng.choice(_TYPES, n_parts),
        "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_parts) * 0.1 + rng.integers(0, 100, n_parts), 2),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_suppliers)],
        "s_nationkey": rng.integers(0, 25, n_suppliers).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9_999, n_suppliers), 2),
    })

    os.makedirs(out_dir, exist_ok=True)
    tables = {"lineitem": lineitem, "orders": orders, "documents": documents,
              "embeddings": embeddings, "part": part, "supplier": supplier}
    for name, df in tables.items():
        tbl = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}
