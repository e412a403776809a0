"""North-rule packaging: the engine must run via
``spark-submit --py-files`` as a self-contained zip, and resume from its
checkpoint with identical final state."""

from __future__ import annotations

import json
import os
import subprocess
import sys

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_job(workdir: str, *extra: str) -> dict:
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", os.path.join(ROOT, "dist", "wcs.zip"),
        os.path.join(ROOT, "jobs", "crawl_job.py"),
        "--workdir", workdir, "--hosts", "3", "--pages", "10",
        "--max-pages", "8", "--max-depth", "2", *extra,
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=400, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_spark_submit_packaged_job(tmp_path):
    if not os.path.exists(SPARK_SUBMIT):
        import pytest

        pytest.skip("spark-submit not available")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "package_pyfiles.py")],
        check=True,
    )
    wd = str(tmp_path / "job")
    first = _run_job(wd)
    assert first["visited"] > 0 and first["records"] > 0

    resumed = _run_job(wd, "--resume")
    assert resumed["visited"] == first["visited"]
    assert resumed["frontier_rows"] == first["frontier_rows"]
    assert resumed["records"] == first["records"]


def test_spark_submit_corpus_job(tmp_path):
    if not os.path.exists(SPARK_SUBMIT):
        import pytest

        pytest.skip("spark-submit not available")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "package_pyfiles.py")],
        check=True,
    )

    def run(mode: str, *extra: str) -> dict:
        cmd = [
            SPARK_SUBMIT, "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", os.path.join(ROOT, "dist", "wcs.zip"),
            os.path.join(ROOT, "jobs", "corpus_job.py"),
            "--mode", mode, "--out", str(tmp_path / mode), *extra,
        ]
        out = subprocess.run(
            cmd, capture_output=True, text=True, timeout=400, check=True
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    text = run("text", "--sf-dir", "/root/testdata/sf0.001")
    assert 0 < text["rows_out"] <= text["rows_in"]
    assert text["total_tokens"] > 0

    pairs = run("pairs", "--n-pairs", "80", "--elect-caption",
                "--wds-dir", str(tmp_path / "wds"))
    assert 0 < pairs["rows_out"] < pairs["rows_in"]
    assert pairs["shards"] >= 1
    # the WebDataset release materialized real tar shards
    assert pairs["wds_shards"] >= 1 and pairs["wds_bytes"] > 0
    tars = [f for f in os.listdir(tmp_path / "wds") if f.endswith(".tar")]
    assert len(tars) == pairs["wds_shards"]


def test_spark_submit_ingest_warc_job(tmp_path):
    """The archive-replay job end-to-end under spark-submit: synthesized
    .warc.gz shards → binary-lane bytes + markup captions → pair lake
    with lineage + metrics; pairs decode and captions match the page
    markup contract."""
    if not os.path.exists(SPARK_SUBMIT):
        import pytest

        pytest.skip("spark-submit not available")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "package_pyfiles.py")],
        check=True,
    )
    arc, out = str(tmp_path / "arc"), str(tmp_path / "pairs")
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", os.path.join(ROOT, "dist", "wcs.zip"),
        os.path.join(ROOT, "jobs", "ingest_warc_job.py"),
        "--archive", arc, "--out", out, "--synthesize", "3", "--pages", "6",
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=400,
                         check=True)
    m = json.loads(res.stdout.strip().splitlines()[-1])
    assert m["pairs"] > 0 and m["records"] > m["pairs"]
    assert m["hosts"] == 3

    # snapshot metadata: lineage per host + the job's summary metrics
    import glob

    snaps = sorted(glob.glob(os.path.join(out, "metadata", "snap-*.json")))
    assert snaps
    snap = json.load(open(snaps[-1]))
    assert snap["summary"]["n_pairs"] == m["pairs"]
    assert len(snap["partition_lineage"]) == 3
    assert sum(snap["partition_lineage"].values()) == m["pairs"]


def _response(uri: str, ctype: str, payload: bytes) -> bytes:
    msg = f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n".encode() + payload
    return (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2024-01-15T00:00:00Z\r\nContent-Length: {len(msg)}\r\n\r\n"
    ).encode() + msg + b"\r\n\r\n"


def test_ingest_warc_elects_one_caption_per_image(spark, tmp_path):
    """Two pages reference the same images with different alt text: the
    ingest job keeps one pair per image and elects its caption by
    elect_captions' rule (longest wins, ties go to the lexicographically
    smallest) — the same caption for two archive layouts, record orders
    and shuffle partitionings."""
    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    import ingest_warc_job

    from web_crawler_spark.images import encode_png, synth_pixels
    from web_crawler_spark.lake import SnapshotTable
    from web_crawler_spark.sources.warc import write_warc_gz

    site = "https://h.example.com"
    p1 = _response(f"{site}/p1", "text/html", (
        '<img src="/images/img_1.png" alt="short">'
        '<img src="/images/img_2.png" alt="bbb">').encode())
    p2 = _response(f"{site}/p2", "text/html", (
        '<img src="/images/img_1.png" alt="a longer caption">'
        '<img src="/images/img_2.png" alt="aaa">').encode())
    i1, i2 = (
        _response(f"{site}/images/{i}.png", "image/png",
                  encode_png(synth_pixels(i, 16, 16)))
        for i in ("img_1", "img_2")
    )
    layouts = {"one_shard": ([p1, p2, i1, i2],), "two_shards": ([i2, p2], [i1, p1])}
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for n_parts, (name, shards) in zip((1, 7), layouts.items()):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
            arc = tmp_path / name
            arc.mkdir()
            for i, recs in enumerate(shards):
                write_warc_gz(list(recs), str(arc / f"s{i}.warc.gz"))
            out = str(tmp_path / f"pairs_{name}")
            ingest_warc_job.ingest(spark, str(arc), out)
            got.append(sorted(
                (r["image_id"], r["caption"])
                for r in SnapshotTable(out).read(spark).collect()
            ))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got[0] == got[1] == [("img_1", "a longer caption"), ("img_2", "aaa")]
