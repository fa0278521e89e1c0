"""Does the streaming MEDIA ingest loop track BATCH size, not corpus
size?  (round 13, r12 verdict task 5 — the media twin of
minhash_index_scale_bench.py.)

The full ingest-media loop per batch is: embed the batch through the
encoder seam -> within-batch collapse -> probe the persisted banded-
LSH index -> exact-cosine verify against the vectors side-store ->
index append + sink insert + vectors insert.  The claimed shape:

- BOOTSTRAP is O(corpus) — the one full-corpus embed that seeds the
  vectors side-store and the LSH index, paid once (that is the point
  of the side-store: admitted payloads are never re-decoded).
- DRAIN of a FIXED batch: the batch's own embed + banding, a probe
  whose index side is a column-pruned scan joined on the batch's
  broadcast band set, and verify/append/insert stages bounded by the
  batch and the flood cap.  Drain wall should grow with a shallow
  scan slope, far below linear in the corpus.
- RECALL stays flat: every planted gain-duplicate of a corpus clip is
  rejected at every multiplier (cosine exactly 1.0 in envelope
  space), and every novel clip is admitted.

Corpus = distinct-envelope synthetic PCM WAVs (the md5-bump generator
from the audio scale bench: cross-clip cosine ~0, so LSH buckets stay
realistic).  The fixed feed batch is half gain-duplicates of corpus
clips spread across the id space, half novel clips.

Usage: python tools/media_ingest_scale_bench.py [n_base] [mults] [batch]
(defaults 2000, 1,4,16, 200).  One JSON line per measurement; the
summary table belongs in BASELINE.md.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import struct
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _clip(src: int, gain: int = 1) -> bytes:
    """Distinct-envelope 16-bit mono PCM WAV per src: triangular bumps
    with md5-derived WEIGHTS AND POSITIONS — position diversity keeps
    the max cross-src cosine below the 0.9 bar even at a 32k corpus
    (fixed bump positions made envelopes a 12-dim weight space whose
    birthday collisions rejected ~half the novel clips at 16x); gain
    scales features exactly."""
    n = 1200 + (src * 37) % 300
    d = hashlib.md5(b"m|%d" % src).digest()
    ws = [1 + d[b] % 7 for b in range(12)]
    half = n // 24
    centers = [50 + (d[12 + (b % 4)] * 7 + d[b] * 131) % (n - 100)
               for b in range(12)]
    samples = [
        (((j + src) % 5) - 2)
        * (20 + sum(w * max(0, half - abs(j - c))
                    for w, c in zip(ws, centers)) // 15)
        * gain
        for j in range(n)
    ]
    data = struct.pack(f"<{n}h", *samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    mults = [
        int(m)
        for m in (sys.argv[2] if len(sys.argv) > 2 else "1,4,16").split(",")
    ]
    n_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 200

    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    from haensel_ams_data_engineer_challenge_spark.multimodal.audioembed import (
        audio_encoder_build,
    )
    from haensel_ams_data_engineer_challenge_spark.operators.manifest_sink import (
        read_manifest_sink,
    )
    from haensel_ams_data_engineer_challenge_spark.session import get_spark
    from haensel_ams_data_engineer_challenge_spark.streaming.media import (
        run_streaming_media_ingest,
    )

    spark = get_spark("media-ingest-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def gen_corpus(n: int):
        def _build(batches):
            for pdf in batches:
                yield pd.DataFrame({
                    "doc_id": pdf["id"].values,
                    "payload": [_clip(int(i)) for i in pdf["id"]],
                })

        return spark.range(n).mapInPandas(
            _build, "doc_id long, payload binary"
        )

    # fixed feed batch: even slots gain-duplicate a corpus clip from
    # the FIRST n_base ids (present at every multiplier), odd slots
    # are novel srcs far outside any corpus id space
    dup_srcs = [(2 * k) % n_base for k in range(n_batch // 2)]
    batch_rows = [
        (10_000_000 + k, _clip(src, gain=2))
        for k, src in enumerate(dup_srcs)
    ] + [
        (20_000_000 + k, _clip(50_000_000 + k))
        for k in range(n_batch - n_batch // 2)
    ]
    n_dups = len(dup_srcs)

    work = tempfile.mkdtemp(prefix="media_scale_")
    try:
        enc = f"{work}/enc"
        audio_encoder_build(spark, enc)
        for mult in mults:
            n_corpus = n_base * mult
            corpus_path = f"{work}/corpus{mult}"
            gen_corpus(n_corpus).write.mode("overwrite").parquet(corpus_path)
            feed = f"{work}/feed{mult}"
            os.makedirs(feed, exist_ok=True)
            args = dict(
                corpus_path=corpus_path,
                feed_dir=feed,
                sink_path=f"{work}/sink{mult}",
                checkpoint_dir=f"{work}/ckpt{mult}",
                index_dir=f"{work}/idx{mult}",
                vectors_path=f"{work}/vecs{mult}",
                encoder_path=enc,
            )

            # phase 1: drain a tiny seed batch so the O(corpus)
            # bootstrap (corpus embed -> side-store + index) is paid
            # and MEASURED here, not inside the drain measurement
            stage = f"{work}/__seed{mult}"
            spark.createDataFrame(
                [(1, bytearray(_clip(90_000_000)))],
                "doc_id long, payload binary",
            ).repartition(1).write.parquet(stage)
            shutil.copy(
                glob.glob(f"{stage}/part-*.parquet")[0],
                f"{feed}/seed.parquet",
            )
            t0 = time.perf_counter()
            run_streaming_media_ingest(spark, **args)
            print(json.dumps({
                "case": f"bootstrap_{mult}x", "n_corpus": n_corpus,
                "sec": round(time.perf_counter() - t0, 3),
                "loadavg_1m": round(os.getloadavg()[0], 2),
            }), flush=True)

            # phase 2: the fixed batch through the FULL loop (embed ->
            # collapse -> probe -> verify -> append -> inserts)
            stage = f"{work}/__batch{mult}"
            spark.createDataFrame(
                [(i, bytearray(p)) for i, p in batch_rows],
                "doc_id long, payload binary",
            ).repartition(1).write.parquet(stage)
            shutil.copy(
                glob.glob(f"{stage}/part-*.parquet")[0],
                f"{feed}/batch.parquet",
            )
            t0 = time.perf_counter()
            run_streaming_media_ingest(spark, **args)
            drain = time.perf_counter() - t0
            admitted = {
                r["doc_id"]
                for r in read_manifest_sink(spark, f"{work}/sink{mult}").collect()
            }
            batch_admitted = {i for i in admitted if i >= 10_000_000}
            n_rejected_dups = sum(
                1 for k in range(n_dups)
                if (10_000_000 + k) not in batch_admitted
            )
            n_admitted_novel = sum(
                1 for i in batch_admitted if 20_000_000 <= i < 30_000_000
            )
            print(json.dumps({
                "case": f"drain_{mult}x", "n_corpus": n_corpus,
                "n_batch": n_batch,
                "dup_reject_recall": round(n_rejected_dups / n_dups, 4),
                "novel_admit_rate": round(
                    n_admitted_novel / (n_batch - n_dups), 4
                ),
                "sec": round(drain, 3),
                "loadavg_1m": round(os.getloadavg()[0], 2),
            }), flush=True)
            shutil.rmtree(corpus_path, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()