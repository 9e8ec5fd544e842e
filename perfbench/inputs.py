"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(seed, size)``. The seed picks the id
range ``[base, base + n)`` with ``base = (seed % 1000) * ID_STRIDE``, so two
seeds give disjoint points and pages while the hotspot share (ids with
``id % 5 == 0``) stays 20 %. Ids stay below 2**31 so the engine's id hashes
never overflow a long under ANSI arithmetic.

The program receives only files: a point parquet table, a tiled deflate
GeoTIFF, a pages parquet table and member-gzip WARC files. Each generator
also returns what the oracle needs to check the outputs.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from air_health_gis_tools_spark import geo_synth as G
from air_health_gis_tools_spark.sources.warc import (http_response_block,
                                                     write_warc_file,
                                                     write_warc_record)

ID_STRIDE = 2_000_000

_WORDS = ("air quality monitor grid raster buffer point polygon tile cell "
          "join health exposure smoke fire density wind mean extract").split()
_LANGS = ("en", "en", "en", "de", "fr")
_EPOCH = pd.Timestamp("2021-01-01")


def id_range(seed: int, n: int) -> np.ndarray:
    base = (seed % 1000) * ID_STRIDE
    return np.arange(base, base + n, dtype=np.int64)


def _write_parquet(df: pd.DataFrame, dirpath: str, n_files: int) -> str:
    os.makedirs(dirpath, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        pq.write_table(pa.Table.from_pandas(df.iloc[part],
                                            preserve_index=False),
                       os.path.join(dirpath, f"part-{k:03d}.parquet"),
                       coerce_timestamps="us")
    return dirpath


# --------------------------------------------------------------------------
# raster_extract: clustered points + the formula raster as a GeoTIFF
# --------------------------------------------------------------------------

def write_points(dirpath: str, seed: int, n: int, n_files: int) -> dict:
    """(doc_id, x, y) in the raster's pixel frame (metres, 1 km pixels)."""
    ids = id_range(seed, n)
    x, y = G.point_xy_np(ids)
    _write_parquet(pd.DataFrame({"doc_id": ids, "x": x, "y": y}),
                   dirpath, n_files)
    return {"path": dirpath, "ids": ids, "x": x, "y": y}


def write_raster_tif(spark, path: str, tile_px: int) -> str:
    """The 4096² formula raster as a tiled float32 deflate GeoTIFF."""
    from air_health_gis_tools_spark.sources.geotiff import write_geotiff
    from air_health_gis_tools_spark.sources.raster import synthetic_tile_table
    write_geotiff(synthetic_tile_table(spark, tile_px=tile_px), path,
                  G.RASTER_H, G.RASTER_W, tile_px=tile_px)
    return path


CACHE = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".perfbench_cache")


def cached_raster_tif(tile_px: int) -> str:
    """The raster does not depend on the seed, so one checkout writes it
    once. A child process with its own Spark session writes it, so the
    benchmark's session starts as cold on the first run as on later ones."""
    path = os.path.join(CACHE, f"raster-{G.RASTER_H}x{G.RASTER_W}"
                               f"-t{tile_px}.tif")
    if not os.path.exists(path):
        os.makedirs(CACHE, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        subprocess.run([sys.executable, os.path.abspath(__file__), "raster",
                        tmp, str(tile_px)], check=True, stdout=sys.stderr)
        os.replace(tmp, path)
    return path


# --------------------------------------------------------------------------
# pages: the Common-Crawl-style table and its WARC serialization
# --------------------------------------------------------------------------

def page_text(i: int, x: int, y: int, n_words: int = 12) -> str:
    body = " ".join(_WORDS[j % len(_WORDS)]
                    for j in range(i % 7, i % 7 + n_words))
    if i % 13 != 0:          # every 13th page withholds its coordinates
        body += f" x {x} y {y}"
    return body


def page_url(i: int) -> str:
    return f"https://site{i % 997}.example/page/{i}"


def page_ts(ids: np.ndarray) -> pd.DatetimeIndex:
    return _EPOCH + pd.to_timedelta((ids * 37) % 31_536_000, unit="s")


def write_pages(dirpath: str, seed: int, n: int, n_files: int) -> dict:
    """Pages parquet (url, warc_ts, html, text, lang) for ``extract_job``."""
    ids = id_range(seed, n)
    x, y = G.point_xy_np(ids)
    texts = [page_text(int(i), int(a), int(b))
             for i, a, b in zip(ids, x, y)]
    df = pd.DataFrame({
        "url": [page_url(int(i)) for i in ids],
        "warc_ts": page_ts(ids).tz_localize("UTC"),
        "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
        "text": texts,
        "lang": [_LANGS[int(i) % 5] for i in ids],
    })
    _write_parquet(df, dirpath, n_files)
    return {"path": dirpath, "ids": ids, "x": x, "y": y}


def _html(title: str, body: str) -> str:
    # the extractor keeps title and body text, drops style/script, and
    # turns block boundaries into one newline: text == title + "\n" + body
    return ("<html><head><title>" + title + "</title>"
            "<style>p { margin: 0 }</style></head><body><div><p>"
            + body.replace("&", "&amp;")
            + "</p></div><script>var seen = 1;</script></body></html>")


def webtext_captures(seed: int, n: int) -> pd.DataFrame:
    """Response captures of ``n`` pages with the duplication a crawl has.

    - every 10th page (id % 10 == 1) is recrawled a day later under a url
      variant that canonicalizes to the same url (upper-case host, default
      port, fragment) with different text: the first capture wins;
    - pages with id % 17 == 2 copy the text of page id - 1: the text dedup
      keeps the lexicographically smaller canonical url;
    - id % 23 == 5 answers 404; id % 29 == 7 has three words, below the
      job's five-token quality floor.
    """
    rows = []
    for i in id_range(seed, n).tolist():
        src = i - 1 if i % 17 == 2 else i
        sx, sy = (int(v[0]) for v in G.point_xy_np(np.array([src])))
        n_words = 3 if src % 29 == 7 else 12
        title = f"page {src}"
        body = page_text(src, sx, sy, n_words)
        if src % 29 == 7:
            title = ""
        host = f"site{i % 997}.example"
        canon = page_url(i)
        ts = int((i * 37) % 31_536_000)
        status = 404 if i % 23 == 5 else 200
        rows.append((i, canon, canon, host, ts, status, title, body))
        if i % 10 == 1:
            variant = (f"https://SITE{i % 997}.example:443/page/{i}#top")
            rows.append((i, variant, canon, host, ts + 86_400, 200,
                         title, body + " recrawled"))
    df = pd.DataFrame(rows, columns=["id", "url", "url_norm", "host", "ts",
                                     "status", "title", "body"])
    df["html"] = [_html(t, b) for t, b in zip(df["title"], df["body"])]
    df["text"] = [(t + "\n" + b) if t else b
                  for t, b in zip(df["title"], df["body"])]
    return df


def write_warc_segment(dirpath: str, caps: pd.DataFrame,
                       n_files: int) -> list[str]:
    """Captures as ``n_files`` member-gzip WARC files, each with a leading
    ``warcinfo`` record and a ``metadata`` record after every 64 responses.
    Returns the paths; ``caps`` gains the ``n_bytes`` of each block."""
    os.makedirs(dirpath, exist_ok=True)
    blocks = [http_response_block(h.encode(), status=int(s))
              for h, s in zip(caps["html"], caps["status"])]
    caps["n_bytes"] = [len(b) for b in blocks]
    paths = []
    for fi, part in enumerate(np.array_split(np.arange(len(caps)), n_files)):
        recs = [write_warc_record(
            "warcinfo", None, "2021-01-01T00:00:00Z", f"info-{fi}",
            b"software: perfbench\r\n",
            content_type="application/warc-fields")]
        for k, j in enumerate(part.tolist()):
            row = caps.iloc[j]
            date_iso = (_EPOCH + pd.Timedelta(seconds=int(row["ts"]))
                        ).strftime("%Y-%m-%dT%H:%M:%SZ")
            recs.append(write_warc_record(
                "response", row["url"], date_iso, f"resp-{j}", blocks[j]))
            if k % 64 == 63:
                recs.append(write_warc_record(
                    "metadata", row["url"], date_iso, f"meta-{j}",
                    b"fetchTimeMs: 7\r\n",
                    content_type="application/warc-fields"))
        path = os.path.join(dirpath, f"part-{fi:03d}.warc.gz")
        write_warc_file(path, recs)
        paths.append(path)
    return paths


def curated_oracle(caps: pd.DataFrame, min_tokens: int = 5) -> pd.Series:
    """Expected curated table as url_norm -> text, by a pandas dedup: first
    capture per canonical url, the token floor, then one url per text."""
    ok = caps[caps["status"] == 200]
    first = (ok.sort_values(["url_norm", "ts", "host", "text", "n_bytes"])
             .drop_duplicates("url_norm", keep="first"))
    first = first[first["text"].str.split(" ").str.len() >= min_tokens]
    dig = first["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
    keep = first.assign(dig=dig).groupby("dig")["url_norm"].min()
    out = first[first["url_norm"].isin(set(keep))]
    return out.set_index("url_norm")["text"].sort_index()


if __name__ == "__main__":
    # python3 perfbench/inputs.py raster OUT.tif TILE_PX
    # (run by cached_raster_tif, with the benchmark's environment)
    import run
    _, what, out, tile = sys.argv
    if what != "raster":
        raise SystemExit(f"unknown input {what!r}")
    cpus = len(os.sched_getaffinity(0))
    session = run.get_session("inputs", cpus, os.environ["TMPDIR"])
    try:
        write_raster_tif(session, out, int(tile))
    finally:
        run.stop_jvm(session)
