"""URL-tier scale bench (round 14): anti-join form vs persisted-Bloom
form as the dedup TARGET grows with the batch size fixed.

Shape under test: the plain form anti-joins every micro-batch against
the canonical URLs of corpus+sink — an O(corpus) pass PER BATCH; the
Bloom form pays one O(corpus) seed on the first batch, then each batch
is a broadcast bitmap probe + an exact verify over the maybe-dup
sliver.  With B batches the plain form scans the corpus B times, the
Bloom form once — the gap should widen linearly with corpus size while
admissions stay IDENTICAL (asserted in-run).

Feed mixes: "recrawl" (half of every batch re-crawls a corpus URL —
the verify sliver is always non-empty, both forms pay a corpus-side
join per batch) and "novel" (steady-state crawl: all-new URLs — the
Bloom form's empty-sliver short circuit skips the corpus join
entirely after the one-time seed, while the anti form still joins the
corpus projection per batch).

Run: python tools/url_tier_scale_bench.py [multipliers...]
Prints one JSON line per (corpus size, mix).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from haensel_ams_data_engineer_challenge_spark.operators.manifest_sink import (  # noqa: E402
    read_manifest_sink,
)
from haensel_ams_data_engineer_challenge_spark.session import get_spark  # noqa: E402
from haensel_ams_data_engineer_challenge_spark.streaming.ingest import (  # noqa: E402
    run_streaming_ingest,
)

BASE_CORPUS = 5_000
BATCHES = 6
BATCH_ROWS = 500
SCHEMA = (
    "doc_id long, text string, lang string, source string, "
    "n_chars long, uri string"
)


def _row(i: int, stamp: str):
    text = f"document body {stamp} {i} " + " ".join(
        f"w{(i * 7 + j) % 97}" for j in range(12)
    )
    return (
        i, text, "en", "crawl", len(text),
        f"http://host{i % 50}.example/page/{i}",
    )


def _build(spark, root: str, n_corpus: int, mix: str) -> tuple[str, str]:
    corpus = f"{root}/corpus"
    spark.createDataFrame(
        [_row(i, "corpus") for i in range(n_corpus)], SCHEMA
    ).write.mode("overwrite").parquet(corpus)
    feed = f"{root}/feed"
    os.makedirs(feed, exist_ok=True)
    for b in range(BATCHES):
        rows = []
        for j in range(BATCH_ROWS):
            gid = b * BATCH_ROWS + j
            if mix == "recrawl" and j % 2 == 0:
                # re-crawl of a corpus URL, variant-tagged, new text
                tgt = (gid * 131) % n_corpus
                rows.append((
                    10_000_000 + gid,
                    f"re-crawl text {b} {j} changed by rotation",
                    "en", "crawl", 30,
                    f"HTTP://Host{tgt % 50}.Example:80/page/{tgt}/"
                    f"?utm_source=b{b}",
                ))
            else:
                rows.append(_row(20_000_000 + gid, f"novel{b}"))
        tmp = f"{root}/__stage_{b}"
        spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        shutil.copy(
            glob.glob(f"{tmp}/part-*.parquet")[0], f"{feed}/b{b}.parquet"
        )
    return corpus, feed


def _drain(spark, corpus, feed, root, tag, bloom: bool) -> tuple[float, int]:
    sink = f"{root}/admitted_{tag}"
    t0 = time.perf_counter()
    run_streaming_ingest(
        spark, corpus, feed, sink, f"{root}/ckpt_{tag}",
        max_files_per_trigger=1, url_dedup_col="uri",
        url_bloom_state_dir=f"{root}/url_bloom_{tag}" if bloom else None,
    )
    wall = time.perf_counter() - t0
    return round(wall, 2), read_manifest_sink(spark, sink).count()


def main() -> None:
    mults = [int(m) for m in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("url-tier-scale")
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    for m in mults:
        for mix in ("recrawl", "novel"):
            root = tempfile.mkdtemp(prefix=f"url_scale_{m}x_{mix}_")
            try:
                corpus, feed = _build(spark, root, BASE_CORPUS * m, mix)
                anti_wall, anti_n = _drain(
                    spark, corpus, feed, root, "anti", False
                )
                bloom_wall, bloom_n = _drain(
                    spark, corpus, feed, root, "bloom", True
                )
                assert anti_n == bloom_n, (anti_n, bloom_n)
                print(json.dumps({
                    "case": "url_tier_scale",
                    "mix": mix,
                    "corpus_mult": m,
                    "n_corpus": BASE_CORPUS * m,
                    "batches": BATCHES,
                    "batch_rows": BATCH_ROWS,
                    "anti_join_wall_s": anti_wall,
                    "bloom_wall_s": bloom_wall,
                    "admitted": anti_n,
                }))
            finally:
                shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
