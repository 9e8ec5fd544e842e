"""spark-submit job entry points, driven in-process (the CLI path the
north_rule ships: WARC segment → curated pages table)."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd


def _expected_curated(n):
    """Independent replay of the curation semantics over the generator
    rows: quality filter, first-capture-per-url (urls are unique in the
    fixture), then keep lexicographically-first url per exact text."""
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from air_health_gis_tools_spark.functions.url import canonicalize_url
    from air_health_gis_tools_spark.sources.pages import _gen_pages
    pdf = next(_gen_pages([pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64)})]))
    rows = [(canonicalize_url(u)[0], t) for u, t in
            zip(pdf["url"], pdf["text"])
            if len(t.split(" ")) >= 5]
    best: dict[str, str] = {}
    for url_norm, text in rows:
        if text not in best or url_norm < best[text]:
            best[text] = url_norm
    return len(rows), set(best.values())


def test_dedup_job(spark, tmp_path):
    """Corpus with planted exact-dup groups: the job keeps min-id per
    group, reports the histogram, and stays linear on the flood."""
    import pandas as pd
    from jobs.dedup_job import main
    texts = []
    for i in range(300):
        if i < 60:                       # flood: 60 identical docs
            texts.append("identical boilerplate page body")
        elif i < 70:                     # 5 pairs of exact dups
            texts.append(f"pair text number {i // 2}")
        else:
            texts.append(f"unique document {i} with its own words {i*7}")
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(300), "text": texts}),
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "dd")
    main(["--input", src, "--output", out])
    with open(os.path.join(out, "metrics.json")) as f:
        m = json.load(f)
    assert m["n_docs"] == 300
    # flood contributes 59 exact edges; pairs 5 more — edges stay linear
    assert m["n_edges"] >= 64
    assert m["group_size_hist"]["60"] == 1
    assert m["group_size_hist"]["2"] >= 5
    got = spark.read.parquet(os.path.join(out, "deduped")).toPandas()
    assert m["n_deduped"] == len(got) == m["n_groups"]
    flood = got[got["text"] == "identical boilerplate page body"]
    assert len(flood) == 1 and flood.iloc[0]["doc_id"] == 0


def test_warc_curation_job(spark, tmp_path):
    from jobs.warc_curation_job import main
    out = str(tmp_path / "cur")
    main(["--synthetic-pages", "256", "--output", out])
    with open(os.path.join(out, "metrics.json")) as f:
        m = json.load(f)
    n_quality, keep_urls = _expected_curated(256)
    assert m["n_responses"] == 256
    assert m["n_pages_200"] == 256
    assert m["n_after_quality"] == n_quality
    assert m["n_curated"] == len(keep_urls)
    got = (spark.read.parquet(os.path.join(out, "curated"))
           .select("url_norm").toPandas())
    assert set(got["url_norm"]) == keep_urls


def test_extract_job_sinks_keep_the_callers_job_group(spark, tmp_path):
    """The three sinks run on worker threads, and every job they start
    still carries the caller's job group: plain threads would drop it and
    leave those jobs ungrouped."""
    from jobs.extract_job import main
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    group = "extract-job-group-test"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        main(["--synthetic-pages", "300", "--output", out,
              "--checkpoint", ckpt, "--resume-buckets", "4"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    # no new ungrouped job (old ones may age out of the tracker)
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert tracker.getJobIdsForGroup(group)
    zonal = spark.read.parquet(*[os.path.join(ckpt, f"bucket={b}")
                                 for b in range(4)]).count()
    knn = spark.read.parquet(os.path.join(out, "knn")).count()
    assert zonal == knn == 300
