"""Independent references the benchmark checks every engine output against.

Each ``check_*`` returns a list of problems; an empty list means the
output is correct. A non-empty list turns the operation into a failed one.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np

from perfbench.gen import png_pixels


def rows_digest(rows) -> str:
    """Order-free digest of an iterable of tuples."""
    h = hashlib.sha256()
    for line in sorted("\x1f".join(map(str, r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ crawl --
def crawl_reference(web, max_pages: int, max_depth: int) -> dict:
    """Per seed host: (visit order, discovered set) of the single-threaded
    reference crawl."""
    from web_crawler_spark.oracle import crawl_all

    out = {}
    for seed, res in crawl_all(web, max_pages=max_pages, max_depth=max_depth).items():
        out[seed.split("//", 1)[1].split("/", 1)[0]] = (res.visit_order, res.seen_set)
    return out


def check_crawl(frontier_rows, ref: dict) -> list[str]:
    """``frontier_rows``: (seed_host, url, status, visit_seq) of the engine's
    final frontier."""
    visits: dict[str, list] = defaultdict(list)
    seen: dict[str, set] = defaultdict(set)
    for host, url, status, vseq in frontier_rows:
        seen[host].add(url)
        if status in ("visited", "error"):
            visits[host].append((vseq, url))
    problems = []
    for host, (order, disc) in ref.items():
        if [u for _, u in sorted(visits[host])] != order:
            problems.append(f"crawl: visit order differs for {host}")
        if seen[host] != disc:
            problems.append(f"crawl: discovered set differs for {host}")
    if set(seen) - set(ref):
        problems.append("crawl: frontier holds unknown seed hosts")
    return problems


# --------------------------------------------------------------- schedule --
def schedule_reference(inputs: dict) -> list[tuple[str, str, int]]:
    """Exact scheduling pass in plain Python, no Bloom: clean and
    canonicalize hrefs, keep each (host, url)'s first (parent_seq,
    link_idx) discovery, drop seen URLs, number the survivors after the
    host's max_seq in discovery order, keep each host's first
    ``remaining``."""
    from web_crawler_spark.functions.urls import (
        py_bad_scheme,
        py_canonicalize,
        py_is_excluded,
        py_same_domain,
    )

    links = inputs["links"]
    first: dict[tuple[str, str], tuple[int, int]] = {}
    for host, pseq, idx, href in zip(links["seed_host"], links["parent_seq"],
                                     links["link_idx"], links["href"]):
        if href is None or py_bad_scheme(href) or not py_same_domain(href, host):
            continue
        url = py_canonicalize(href)
        if not url or py_is_excluded(url):
            continue
        key, pos = (host, url), (int(pseq), int(idx))
        if key not in first or pos < first[key]:
            first[key] = pos
    seen = set(zip(inputs["seen"]["seed_host"], inputs["seen"]["url"]))
    by_host: dict[str, list] = defaultdict(list)
    for key, pos in first.items():
        if key not in seen:
            by_host[key[0]].append((pos, key[1]))
    max_seq = dict(zip(inputs["max_seq"]["seed_host"], inputs["max_seq"]["max_seq"]))
    remaining = dict(zip(inputs["remaining"]["seed_host"],
                         inputs["remaining"]["remaining"]))
    out = []
    for host, cands in by_host.items():
        if host not in remaining:
            continue
        base = int(max_seq.get(host, 0))
        for rank, (_, url) in enumerate(sorted(cands)[: int(remaining[host])], 1):
            out.append((host, url, base + rank))
    return out


def check_schedule(rows, ref_rows, ref_digest: str) -> list[str]:
    rows = [(h, u, int(s)) for h, u, s in rows]
    problems = []
    if len(rows) != len(ref_rows):
        problems.append(f"schedule: {len(rows)} rows, reference {len(ref_rows)}")
    if rows_digest(rows) != ref_digest:
        problems.append("schedule: (seed_host, url, enqueue_seq) digest differs")
    return problems


# ----------------------------------------------------------------- ingest --
def check_pairs(pairs, truth: dict) -> list[str]:
    """``pairs``: (img_url, image_id, bytes, w, h, caption, phash) rows of
    the ingested pair table. Every image the archive's markup references
    lands exactly once, with its bytes decoding to the generated pixels and
    a caption taken from a page that references it."""
    images = truth["images"]
    problems = []
    counts = Counter(p[0] for p in pairs)
    if set(counts) != set(images):
        problems.append(
            f"ingest: pair set differs ({len(set(counts) - set(images))} extra, "
            f"{len(set(images) - set(counts))} missing)")
    if any(c > 1 for c in counts.values()):
        problems.append("ingest: an image URL landed more than once")
    bad_px = bad_cap = bad_dim = 0
    for url, _, data, w, h, caption, phash in pairs:
        if url not in images:
            continue
        px, captions, _ = images[url]
        try:
            same = np.array_equal(png_pixels(bytes(data)), px)
        except ValueError:
            same = False
        bad_px += not same
        bad_dim += (w, h) != (px.shape[1], px.shape[0]) or phash is None
        bad_cap += caption not in captions
    if bad_px:
        problems.append(f"ingest: {bad_px} payloads do not decode to the generated pixels")
    if bad_dim:
        problems.append(f"ingest: {bad_dim} rows with wrong w/h or no phash")
    if bad_cap:
        problems.append(f"ingest: {bad_cap} captions not referenced by any page")
    return problems


def check_release(release, pairs, truth: dict) -> list[str]:
    """``release``: (image_id, caption) rows of the curated pair release.
    Survivors come from the pair table, once each, with distinct captions,
    and at most one image survives per planted exact-duplicate group."""
    images = truth["images"]
    url_of = {p[1]: p[0] for p in pairs}
    problems = []
    ids = [r[0] for r in release]
    if not ids:
        problems.append("release: empty")
    if len(set(ids)) != len(ids):
        problems.append("release: duplicate image_id")
    if set(ids) - set(url_of):
        problems.append("release: image not in the pair table")
    caps = [r[1] for r in release]
    if len(set(caps)) != len(caps):
        problems.append("release: duplicate caption survived")
    groups = Counter(
        images[url_of[i]][2] or url_of[i] for i in ids if url_of.get(i) in images)
    if any(c > 1 for c in groups.values()):
        problems.append("release: an exact-duplicate group kept two images")
    return problems


# ------------------------------------------------------------------ query --
def query_reference(sql: str, table_dir: str, tables) -> tuple[list[str], list[tuple]]:
    """Column names and rows of the query's oracle SQL run in DuckDB over
    the same parquet tables the engine reads."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{table_dir}/{t}.parquet')")
        cur = con.execute(sql)
        return [c[0] for c in cur.description], [tuple(r) for r in cur.fetchall()]
    finally:
        con.close()


def _norm(v):
    if v is None:
        return ("n",)
    if isinstance(v, float):
        return ("f", round(v, 6))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    return ("v", str(v))


def check_query(name: str, columns, rows, reference) -> list[str]:
    """Equal as multisets of rows, columns matched by name; floats are
    compared to a relative 1e-6 after both sides are sorted on every column
    rounded to 6 places."""
    import math

    ref_cols, ref_rows = reference
    if sorted(columns) != sorted(ref_cols):
        return [f"query {name}: columns {columns}, reference {ref_cols}"]
    pos = [ref_cols.index(c) for c in columns]
    ref_rows = [tuple(r[i] for i in pos) for r in ref_rows]
    if len(rows) != len(ref_rows):
        return [f"query {name}: {len(rows)} rows, reference {len(ref_rows)}"]
    key = lambda r: tuple(_norm(v) for v in r)  # noqa: E731

    def close(a, b) -> bool:
        if isinstance(a, float) or isinstance(b, float):
            return (a is not None and b is not None
                    and math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-9))
        if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
            return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
        return _norm(a) == _norm(b)

    bad = sum(not (len(a) == len(b) and all(close(x, y) for x, y in zip(a, b)))
              for a, b in zip(sorted(rows, key=key), sorted(ref_rows, key=key)))
    return [f"query {name}: {bad} rows differ from the reference"] if bad else []
