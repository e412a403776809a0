"""Self-test of the benchmark's generators and checks (no Spark needed).

Run from the root of a checkout:  python3 perfbench/selftest.py

- the same seed gives byte-identical inputs, another seed different ones;
- an output equal to the reference passes each check;
- a planted wrong row makes each check fail.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile


def _tree_digest(d: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(dirpath, n), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main() -> int:
    sys.path.insert(0, os.getcwd())
    from perfbench import gen, reference
    from web_crawler_spark.synthetic.web import SyntheticWeb

    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            failures.append(what)

    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        # ---- determinism of the generated inputs
        for name, make in (
            ("schedule", lambda d, s: gen.schedule_inputs(d, s, n_parents=300, n_hosts=50,
                                                          n_seen_extra=100)),
            ("ingest", lambda d, s: gen.ingest_archive(d, s, n_hosts=2, pages=8)),
            ("query", lambda d, s: gen.query_tables(d, s, n_orders=200, n_docs=60, n_vecs=40)),
        ):
            a, b, c = (os.path.join(tmp, f"{name}-{k}") for k in "abc")
            make(a, 7), make(b, 7), make(c, 8)
            expect(_tree_digest(a) == _tree_digest(b), f"{name}: same seed, identical bytes")
            expect(_tree_digest(a) != _tree_digest(c), f"{name}: other seed, different bytes")

        def web_digest(seed):
            w = SyntheticWeb(n_hosts=3, pages_per_host=20, seed=seed)
            return hashlib.sha256("".join(
                w.body(h, p) for h in range(3) for p in range(20)).encode()).hexdigest()

        expect(web_digest(7) == web_digest(7), "crawl: same seed, identical pages")
        expect(web_digest(7) != web_digest(8), "crawl: other seed, different pages")

        # ---- crawl check
        web = SyntheticWeb(n_hosts=3, pages_per_host=40, seed=7)
        ref = reference.crawl_reference(web, max_pages=6, max_depth=2)
        rows = []
        for host, (order, disc) in ref.items():
            pos = {u: i for i, u in enumerate(order)}
            rows += [(host, u, "visited" if u in pos else "queued", pos.get(u))
                     for u in sorted(disc)]
        expect(not reference.check_crawl(rows, ref), "crawl: reference output passes")
        host = next(iter(ref))
        order = ref[host][0]
        swapped = [(h, u, s, ({0: 1, 1: 0}.get(v, v) if h == host and v is not None else v))
                   for h, u, s, v in rows]
        expect(bool(reference.check_crawl(swapped, ref)) and len(order) > 1,
               "crawl: two swapped visits are caught")
        extra = rows + [(host, f"https://{host}/planted", "queued", None)]
        expect(bool(reference.check_crawl(extra, ref)), "crawl: a planted discovered URL is caught")

        # ---- schedule check
        inputs = gen.schedule_inputs(os.path.join(tmp, "s"), 3, n_parents=400,
                                     n_hosts=40, n_seen_extra=100)
        ref_rows = reference.schedule_reference(inputs)
        digest = reference.rows_digest(ref_rows)
        expect(not reference.check_schedule(ref_rows, ref_rows, digest),
               "schedule: reference output passes")
        h, u, s = ref_rows[0]
        expect(bool(reference.check_schedule([(h, u, s + 1)] + ref_rows[1:], ref_rows, digest)),
               "schedule: a wrong enqueue_seq is caught")
        expect(bool(reference.check_schedule(ref_rows[1:], ref_rows, digest)),
               "schedule: a missing row is caught")

        # ---- ingest checks
        truth = gen.ingest_archive(os.path.join(tmp, "arc"), 5, n_hosts=3, pages=30)
        pairs = []
        for url, (px, caps, _) in sorted(truth["images"].items()):
            image_id = url.rsplit("/", 1)[1][:-4]
            pairs.append((url, image_id, gen.png_bytes(px), px.shape[1], px.shape[0],
                          min(caps), 1))
        expect(not reference.check_pairs(pairs, truth), "ingest: reference pairs pass")
        multi = [p for p in pairs if len(truth["images"][p[0]][1]) > 1]
        expect(bool(multi), "ingest: some images are referenced with several captions")
        groups = {}
        for url, (_, _, g) in truth["images"].items():
            if g:
                groups.setdefault(g, []).append(url)
        expect(bool(groups), "ingest: exact-duplicate groups are planted")
        bad = [p[:5] + ("a caption no page uses",) + p[6:] if p is pairs[0] else p for p in pairs]
        expect(bool(reference.check_pairs(bad, truth)), "ingest: a wrong caption is caught")
        px0 = truth["images"][pairs[0][0]][0].copy()
        px0[0, 0, 0] ^= 0xFF
        bad = [(p[0], p[1], gen.png_bytes(px0)) + p[3:] if p is pairs[0] else p for p in pairs]
        expect(bool(reference.check_pairs(bad, truth)), "ingest: a wrong pixel is caught")
        expect(bool(reference.check_pairs(pairs[1:], truth)), "ingest: a missing pair is caught")

        ids = {p[0]: p[1] for p in pairs}
        survivors = [(ids[urls[0]], f"caption {i}") for i, urls in enumerate(groups.values())]
        expect(not reference.check_release(survivors, pairs, truth),
               "release: one survivor per duplicate group passes")
        g = next(iter(groups.values()))
        root = truth["images"][g[0]][2]
        twice = survivors + [(ids[root], "another caption")]
        expect(bool(reference.check_release(twice, pairs, truth)),
               "release: two survivors of one exact-duplicate group are caught")

        # ---- query check: the DuckDB reference against itself, then with a
        # planted wrong value and a missing row
        from web_crawler_spark.analytics import queries as Q

        qdir = os.path.join(tmp, "q")
        sizes = gen.query_tables(qdir, 4, n_orders=200, n_docs=60, n_vecs=40)
        ref = reference.query_reference(Q.oracle_sql()["pricing_summary"], qdir, sizes)
        cols, rows = ref
        expect(len(rows) > 1, "query: the reference has rows")
        expect(not reference.check_query("q", cols, rows, ref), "query: reference output passes")
        expect(not reference.check_query("q", cols[::-1], [r[::-1] for r in rows], ref),
               "query: columns are matched by name")
        k = next(i for i, v in enumerate(rows[0]) if isinstance(v, float))
        wrong = [rows[0][:k] + (rows[0][k] * 1.01,) + rows[0][k + 1:]] + rows[1:]
        expect(bool(reference.check_query("q", cols, wrong, ref)), "query: a wrong value is caught")
        expect(bool(reference.check_query("q", cols, rows[1:], ref)), "query: a missing row is caught")

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
