"""CLI — the reference's three entry points on Spark.

    python -m haensel_ams_data_engineer_challenge_spark pipeline \
        --sf-dir /root/testdata/sf0.001 --work-dir /tmp/attr \
        [--start-date YYYY-MM-DD] [--end-date YYYY-MM-DD]
    python -m haensel_ams_data_engineer_challenge_spark create-db \
        --work-dir /tmp/attr
    python -m haensel_ams_data_engineer_challenge_spark training-sample \
        --sf-dir /root/testdata/sf0.001 --work-dir /tmp/attr [--limit 20]
    python -m haensel_ams_data_engineer_challenge_spark corpus \
        --sf-dir /root/testdata/sf0.001 --work-dir /tmp/attr \
        [--cap-per-lang N] [--decontaminate-against eval.parquet] \
        [--train 0.98 --val 0.01 --test 0.01]
    python -m haensel_ams_data_engineer_challenge_spark mix \
        --work-dir /tmp/attr --source web=/data/web=0.6 \
        --source code=/data/code=1.0

The first three mirror reference main.py:23-72 (argument surface),
create_db.py (DDL + verification) and extracted_training_data.py
(LIMIT-N journey sample as API-format JSON); exit code 0/1 like
main.py:389-394. `corpus` is engine-native: near-dup clusters ->
one survivor per cluster -> optional benchmark decontamination ->
optional per-language cap -> optional PII redaction -> deterministic
train/val/test split, written partitioned by split.
"""

from __future__ import annotations

import argparse
import sys


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="haensel_ams_data_engineer_challenge_spark")
    sub = p.add_subparsers(dest="command", required=True)

    run = sub.add_parser("pipeline", help="extract -> journeys -> score -> report")
    run.add_argument("--sf-dir", required=True)
    run.add_argument("--work-dir", required=True)
    run.add_argument("--start-date", default=None)
    run.add_argument("--end-date", default=None)
    # lazy import keeps `--help` JVM-free; validated in run_pipeline
    run.add_argument(
        "--conv-type-id",
        default="ihc",
        help="scoring model (reference api_utils.py:87): ihc, "
        "ihc_redistributed, last_touch, first_touch, linear, "
        "position_based",
    )
    # external-scorer surface (reference main.py:65-70): score via a
    # remote IHC API through the throttled chunk operator instead of
    # the native models; the per-chunk audit table lands beside the
    # attribution sink
    run.add_argument(
        "--scorer", choices=["native", "external"], default="native",
        help="native = in-engine models; external = POST journey "
        "chunks to --endpoint (reference api_utils.py wire shape)",
    )
    run.add_argument("--endpoint", default=None,
                     help="IHC API base URL (required with --scorer external)")
    run.add_argument("--api-key", default=None)
    run.add_argument("--rate-limit-delay", type=float, default=1.0,
                     help="seconds between chunk requests (main.py:65-70)")
    run.add_argument("--chunk-journeys", type=int, default=100,
                     help="journeys per request (journey_builder.py:185)")
    run.add_argument("--scorer-max-retries", type=int, default=3)
    run.add_argument("--scorer-retry-delay", type=float, default=2.0)
    run.add_argument(
        "--compact-sink", action="store_true",
        help="after the run, rewrite the append-fragmented attribution "
        "sink as one file set, committed by one manifest rename "
        "(readers of the previous manifest keep a complete row set; "
        "per-run appends otherwise accumulate small files forever)",
    )
    run.add_argument(
        "--retention-minutes", type=float, default=None, metavar="M",
        help="vacuum time floor for long-running readers: superseded "
        "manifests younger than M keep their files, so a reader that "
        "resolved before two quick mutations (insert + compact) still "
        "scans complete.  Default 30; 0 = pure one-generation "
        "retention, minimal disk",
    )
    run.add_argument(
        "--hot-user-threshold", type=int, default=None, metavar="N",
        help="route users whose session+conversion timeline exceeds N "
        "rows through the as-of join's chunked hot-key path "
        "(bot-traffic straggler mitigation — see BASELINE.md's "
        "measured cliff).  Default 100000 (the knob "
        "sweep's flat part) — the pipeline is skew-safe out of the "
        "box; pass 0 to opt out and keep the plain single-window plan",
    )

    db = sub.add_parser("create-db", help="DDL bootstrap + schema verification")
    db.add_argument("--work-dir", required=True)

    ts = sub.add_parser("training-sample", help="journey sample as API JSON")
    ts.add_argument("--sf-dir", required=True)
    ts.add_argument("--work-dir", required=True)
    ts.add_argument("--limit", type=int, default=20)

    co = sub.add_parser(
        "corpus",
        help="documents -> near-dup clusters -> survivors -> "
        "optional per-lang cap -> train/val/test split",
    )
    co_src = co.add_mutually_exclusive_group(required=True)
    co_src.add_argument("--sf-dir")
    co_src.add_argument(
        "--docs-jsonl",
        metavar="JSONL_PATH",
        help="ingest documents from a jsonl dump instead of the "
        "warehouse parquet (sources/jsonl.py: declared schema, "
        "malformed lines quarantined to WORK_DIR/quarantine)",
    )
    co_src.add_argument(
        "--docs-warc",
        metavar="WARC_DIR",
        help="ingest documents from WARC crawl shards (sources/warc.py: "
        "response records only, crude HTML->text, per-shard "
        "rejected/malformed audit written to WORK_DIR/warc_audit)",
    )
    co.add_argument("--work-dir", required=True)
    co.add_argument("--cap-per-lang", type=int, default=None)
    co.add_argument(
        "--decontaminate-against",
        default=None,
        metavar="PARQUET_PATH",
        help="eval/benchmark docs table (doc_id, text); training docs "
        "overlapping it by word n-grams are dropped before cap/split",
    )
    co.add_argument(
        "--decontaminate-ngram",
        type=int,
        default=3,
        metavar="N",
        help="shingle size for --decontaminate-against (word n-grams)",
    )
    co.add_argument(
        "--decontaminate-min-overlap",
        type=float,
        default=0.5,
        metavar="FRAC",
        help="drop a training doc when it shares at least this "
        "fraction of an eval doc's distinct n-grams",
    )
    co.add_argument(
        "--redact-pii",
        action="store_true",
        help="replace emails / IPv4 addresses / phone numbers in the "
        "text column with typed placeholders before writing",
    )
    co.add_argument(
        "--block-hosts",
        default=None,
        metavar="HOSTS_FILE",
        help="newline-separated domain blocklist (UT1-style); drops "
        "docs whose source host or any parent domain is listed "
        "(operators/blocklist.py label-boundary matching)",
    )
    co.add_argument(
        "--remove-boilerplate-lines",
        action="store_true",
        help="excise lines repeated across >= 2 distinct documents "
        "(headers/footers/banners) from every doc before the quality "
        "gate (operators/dedup.remove_duplicate_lines)",
    )
    co.add_argument(
        "--drop-gopher-fail",
        action="store_true",
        help="drop documents failing the Gopher quality rules "
        "(word count / mean word length / alpha-word fraction / "
        "stopword hits published thresholds) before cap/split",
    )
    co.add_argument(
        "--learn-bpe",
        type=int,
        default=None,
        metavar="N_MERGES",
        help="after building the corpus, learn N BPE merges on the "
        "train split and write them to WORK_DIR/bpe_merges.json "
        "(N <= operators.bpe.MAX_SEGMENT_MERGES so the file stays "
        "loadable by bpe_segment; no cap with --byte-level-bpe, "
        "which always segments via the Arrow path)",
    )
    co.add_argument(
        "--byte-level-bpe",
        action="store_true",
        help="learn BYTE-LEVEL merges (GPT-2 dialect: regex "
        "pre-tokenization, 256-byte alphabet, no </w>/OOV, case and "
        "whitespace preserved) instead of lowercase word-type "
        "merges; the merges file records the dialect and tokenize/"
        "pack pick the matching segmenter automatically",
    )
    co.add_argument(
        "--save-near-dup-index",
        default=None,
        metavar="DIR",
        help="after building the corpus, snapshot its MinHash band "
        "index at DIR (FORCE-rebuilt, commit-marker protocol) — the "
        "bootstrap artifact `ingest --near-dup` then probes and grows "
        "incrementally",
    )
    co.add_argument(
        "--save-lm-model", default=None, metavar="DIR",
        help="after building the corpus, train the unigram LM artifact "
        "on the TRAIN split and persist it at DIR (commit-marker "
        "protocol; the `ingest --lm-model --max-xent` perplexity "
        "gate's bootstrap — the CCNet train-once lifecycle)",
    )
    co.add_argument(
        "--dedup-method",
        choices=("minhash", "substring", "semantic", "both"),
        default="minhash",
        help="near-dup pair source: word-shingle MinHash LSH (default), "
        "exact-substring anchors (verbatim-run dedup, Lee et al. 2021 "
        "style), SemDeDup semantic pairs over feature-hashed "
        "embeddings (Abbas et al. 2023 — k-means cell-scoped cosine, "
        "no external model needed), or the union of the two text "
        "signals ('both') feeding one cluster resolution",
    )
    co.add_argument(
        "--semantic-threshold",
        type=float,
        default=0.9,
        metavar="COS",
        help="(--dedup-method semantic) cosine above which same-cell "
        "pairs are semantic duplicates",
    )
    co.add_argument(
        "--encoder-model", default=None, metavar="DIR",
        help="(--dedup-method semantic) run the semantic pair scan on "
        "the model-inference seam (operators/embed): encode documents "
        "through the persisted encoder artifact at DIR (built from "
        "the corpus on first use) instead of hash_embed — catches "
        "synonym-swapped paraphrases the lexical signals miss",
    )
    co.add_argument(
        "--semantic-k",
        type=int,
        default=None,
        metavar="K",
        help="(--dedup-method semantic) k-means cell count; default "
        "sizes by the paper's rule (n_docs / 400, floor 4) so the "
        "per-cell scan stays constant as the corpus grows",
    )
    co.add_argument("--train", type=float, default=0.98)
    co.add_argument("--val", type=float, default=0.01)
    co.add_argument("--test", type=float, default=0.01)

    se = sub.add_parser(
        "search",
        help="BM25 top-k corpus docs per query (ranked retrieval / "
        "retrieval-based decontamination)",
    )
    se.add_argument("--sf-dir", required=False, default=None)
    se.add_argument(
        "--media-parquet", default=None, metavar="PARQUET",
        help="search MEDIA instead of the sf-dir documents : "
        "corpus (doc_id, payload binary) and queries (query_id, "
        "payload binary) embed through --encoder-model (a committed "
        "image-v1/audio-v1/video-v1 artifact — query-by-example over "
        "the same persistent ANN index machinery); requires "
        "--method ann",
    )
    se.add_argument("--work-dir", required=True)
    se.add_argument(
        "--queries-parquet",
        required=True,
        metavar="PARQUET_PATH",
        help="query table (query_id, text) — or (query_id, payload) "
        "with --media-parquet",
    )
    se.add_argument("--k", type=int, default=5)
    se.add_argument(
        "--method",
        choices=("bm25", "ann"),
        default="bm25",
        help="bm25 = Okapi lexical ranking; ann = feature-hashed "
        "vectors + IVF ANN against a persistent index built under "
        "WORK_DIR/ann_index on first use (served from disk after)",
    )
    se.add_argument(
        "--refresh-index",
        action="store_true",
        help="(ann) before querying, append corpus vectors missing "
        "from the committed index — assign-to-frozen-centroids, no "
        "retrain; without this, documents added after the index "
        "build are invisible to ANN search",
    )
    se.add_argument(
        "--encoder-model", default=None, metavar="DIR",
        help="(ann) embed documents AND queries through the "
        "model-inference seam (encoder artifact at DIR, built from "
        "the corpus on first use) instead of hash_embed; the ANN "
        "index lives under WORK_DIR/ann_index_model_v<encoder-content-"
        "version>, so no two vector spaces (hash vs model, or two "
        "differently-trained encoders) ever share an artifact",
    )
    se.add_argument(
        "--max-df-frac",
        type=float,
        default=None,
        metavar="FRAC",
        help="common-term pruning: drop query terms whose document "
        "frequency exceeds FRAC of the corpus (bounds the scoring "
        "join on Zipf head terms; an explicit approximation)",
    )
    se.add_argument(
        "--train-sample-cap", type=int, default=None, metavar="N",
        help="(ann) train the IVF quantizer on a deterministic hash "
        "sample of ~N vectors instead of the full corpus (the FAISS "
        "train-on-sample discipline; assignment still covers every "
        "vector) — pinned in the index marker; size cells by "
        "k~sqrt(corpus)",
    )
    se.add_argument(
        "--retrain-if-drift", type=float, default=None, metavar="X",
        help="(ann) after the optional --refresh-index append, read "
        "the committed index's drift_stat and RETRAIN in place when "
        "it exceeds X: fresh Lloyd rounds over the current corpus, "
        "k resized by the sqrt-N rule, committed as one atomic "
        "manifest swap (a reader mid-query keeps the complete old "
        "generation — no delete-then-rebuild gap); ~2.0 is the "
        "documented operating point",
    )
    se.add_argument(
        "--index-stats", action="store_true",
        help="(ann) after the run, print the index marker's stats — "
        "version, cell occupancy profile from training, and "
        "drift_stat (max cell-share growth vs training; ~1.0 under "
        "uniform appends, rising when appends skew — retrain past "
        "~2x)",
    )

    di = sub.add_parser(
        "dedup-images",
        help="perceptual-hash near-dup over an image-payload parquet "
        "(doc_id, payload binary): real PNG pixel decode -> dHash "
        "banding -> hamming verify -> connected components -> one "
        "survivor per duplicate cluster",
    )
    di.add_argument("--images-parquet", required=True, metavar="PARQUET")
    di.add_argument("--work-dir", required=True)
    di.add_argument(
        "--method", choices=["phash", "embed", "both", "semdedup"],
        default="phash",
        help="phash = near-exact tier (re-encodes, mild resizes; "
        "dHash banding + hamming verify); embed = SEMANTIC tier "
        "(crops, recolors, same-scene — the regime phash misses at "
        "any t: a 20%% crop measures hamming 14) through the image-v1 "
        "encoder artifact -> banded sign-LSH + exact-cosine verify; "
        "both = the production posture — ONE pixel-decode pass feeds "
        "both tiers and their pair sets union before clustering; "
        "semdedup = the SemDeDup rule on the same features (keep the "
        "example FARTHEST from its k-means cluster centroid per "
        "duplicate group — diversity-preserving pruning, the paper's "
        "native image use)",
    )
    di.add_argument(
        "--cosine-threshold", type=float, default=0.9, metavar="C",
        help="(embed/both) semantic-duplicate bar on the exact cosine "
        "of the mean-centered box features (default 0.9: a 20%% crop "
        "of a smooth texture measures ~0.92, a recolor exactly 1.0; "
        "false positives are impossible — every LSH candidate is "
        "verified with the exact cosine)",
    )
    di.add_argument(
        "--encoder-model", default=None, metavar="DIR",
        help="(embed/semdedup) use a committed image encoder artifact "
        "(e.g. an import-imageenc projection) instead of the stateless "
        "default; the semantic tier runs in ITS feature space at ITS "
        "dim. Refused for phash/both: phash uses no encoder, and "
        "both's one-decode-pass contract is stateless-only (a custom "
        "encoder would force a second decode)",
    )
    di.add_argument(
        "--max-hamming", type=int, default=None, metavar="T",
        help="duplicate threshold on the 64-bit dHash (default 10: "
        "re-encodes measure 0, mild resizes 0-6); with the default "
        "--bands 4 recall is GUARANTEED only at T<=3 (16-bit band "
        "pigeonhole) and probabilistic-but-measured-high above it — "
        "pairs whose differing bits spread across all 4 bands are "
        "missed; --bands 8 raises the guarantee to T<=7",
    )
    di.add_argument(
        "--bands", type=int, choices=(4, 8), default=4,
        help="dHash banding layout: 4 = 16-bit bands "
        "(fine buckets, guarantee at hamming<=3); 8 = 8-bit bands "
        "(hamming<=7 pigeonhole-GUARANTEED — covers most of the "
        "default threshold with a hard floor, at 2x band-stream rows "
        "and coarser buckets; BASELINE.md prices it)",
    )

    ii = sub.add_parser(
        "import-imageenc",
        help="import a linear image-projection matrix (row long, vec "
        "array<double> of len grid^2 — a PCA basis or distilled linear "
        "head over the box features) as a committed PROJECTED image-v1 "
        "encoder artifact; output dim = row count, and every consumer "
        "(dedup-images --encoder-model, ingest-media, search "
        "--media-parquet) sizes itself from the artifact",
    )
    ii.add_argument("--weights-parquet", required=True, metavar="PARQUET")
    ii.add_argument("--model-dir", required=True)
    ii.add_argument("--grid", type=int, default=None,
                    help="box-feature grid (default 8 -> inner dim 64)")

    ia = sub.add_parser(
        "import-audioenc",
        help="import a linear audio-projection matrix (row long, vec "
        "array<double> of len grid — a PCA basis or distilled linear "
        "head over the envelope features) as a committed PROJECTED "
        "audio-v1 encoder artifact; output dim = row count, and every "
        "consumer (dedup-audio --encoder-model, ingest-media) sizes "
        "itself from the artifact (import-imageenc parity, "
        "so bring-your-own-weights covers every modality the seam "
        "serves)",
    )
    ia.add_argument("--weights-parquet", required=True, metavar="PARQUET")
    ia.add_argument("--model-dir", required=True)
    ia.add_argument("--grid", type=int, default=None,
                    help="envelope window grid (default 64 = inner dim)")

    da = sub.add_parser(
        "dedup-audio",
        help="audio near-dup over an audio-payload parquet (doc_id, "
        "payload binary): real stdlib PCM decode (16/8-bit WAV, "
        "multi-channel mixdown) -> gain-invariant energy-envelope "
        "features (audio-v1 encoder artifact) -> banded sign-LSH + "
        "exact-cosine verify -> connected components -> one survivor "
        "per duplicate cluster",
    )
    da.add_argument("--audio-parquet", required=True, metavar="PARQUET")
    da.add_argument("--work-dir", required=True)
    da.add_argument(
        "--method", choices=["envelope", "semdedup", "both"],
        default="envelope",
        help="envelope = near-dup tier (banded sign-LSH + exact-cosine "
        "verify over the envelope features — re-gains, volume "
        "normalizations, mild trims); semdedup = the SemDeDup rule on "
        "the same features (keep the clip FARTHEST from its k-means "
        "cluster centroid per duplicate group — diversity-preserving "
        "pruning of redundant-but-not-duplicate clusters the near-dup "
        "bar admits); both = union of drops (a clip survives only if "
        "BOTH tiers keep it; component ids come from the envelope "
        "tier's clustering) — ONE decode/embed pass feeds every tier "
        "(dedup-images --method parity)",
    )
    da.add_argument(
        "--semdedup-threshold", type=float, default=None, metavar="C",
        help="(semdedup/both) the DIVERSITY bar — defaults to the "
        "SemDeDup paper regime (0.45), deliberately lower than "
        "--cosine-threshold: the point of the tier is pruning "
        "redundant clusters the near-dup bar admits",
    )
    da.add_argument(
        "--cosine-threshold", type=float, default=0.9, metavar="C",
        help="duplicate bar on the exact cosine of the mean-centered "
        "envelope features (default 0.9: a re-gained/volume-normalized "
        "copy measures 1.0 to within one ulp, a few-percent trim "
        "~0.97+; false positives are impossible — every LSH candidate "
        "is verified with the exact cosine)",
    )
    da.add_argument(
        "--encoder-model", default=None, metavar="DIR",
        help="use a committed AUDIO encoder artifact instead of the "
        "stateless envelope default; the tier runs in ITS feature "
        "space at ITS dim (non-audio kinds refused)",
    )

    dv = sub.add_parser(
        "dedup-video",
        help="video near-dup over a video-payload parquet (doc_id, "
        "payload binary): MJPEG/AVI demux + sampled real JPEG frame "
        "decode -> pooled video-v1 clip features -> banded "
        "sign-LSH + exact-cosine verify -> connected components -> "
        "one survivor per duplicate cluster; non-MJPEG containers "
        "dedup byte-exact via the fake rung",
    )
    dv.add_argument("--videos-parquet", required=True, metavar="PARQUET")
    dv.add_argument("--work-dir", required=True)
    dv.add_argument(
        "--method", choices=["clip", "semdedup", "both"], default="clip",
        help="clip = near-dup tier (re-encodes ~cosine 1, per-frame "
        "re-grades exactly 1, mild trims high); semdedup = the "
        "diversity rule on the same features; both = union of drops "
        "(the dedup-audio --method contract)",
    )
    dv.add_argument(
        "--cosine-threshold", type=float, default=0.9, metavar="C",
        help="duplicate bar on the exact cosine of the pooled clip "
        "features (re-encode ~0.99+, re-grade 1.0, short trim ~0.9+)",
    )
    dv.add_argument(
        "--semdedup-threshold", type=float, default=None, metavar="C",
        help="(semdedup/both) the diversity bar — defaults to the "
        "SemDeDup paper regime (0.45); see dedup-audio",
    )
    dv.add_argument(
        "--encoder-model", default=None, metavar="DIR",
        help="use a committed VIDEO encoder artifact instead of the "
        "stateless work-dir default (non-video kinds refused)",
    )

    wv = sub.add_parser(
        "import-wordvec",
        help="import a float word-vector table (term, vec "
        "array<double> — a parsed word2vec/fastText export) as a "
        "committed wordvec-v1 encoder artifact servable by every "
        "--encoder-model surface (search/ingest/corpus)",
    )
    wv_src = wv.add_mutually_exclusive_group(required=True)
    wv_src.add_argument("--vectors-parquet", metavar="PARQUET")
    wv_src.add_argument(
        "--vec-file", metavar="VEC",
        help="a word2vec/fastText TEXT export (optional 'N dim' header "
        "line, then 'term v1..vd' rows; GloVe's headerless rows work "
        "too) — parsed distributed (spark.read.text + split/cast, no "
        "driver loop); malformed lines are quarantined verbatim under "
        "MODEL_DIR/vec_quarantine, never silently dropped",
    )
    wv.add_argument("--model-dir", required=True, metavar="DIR")
    wv.add_argument(
        "--scale", type=int, default=None, metavar="N",
        help="fixed-point grid denominator (default 1024): components "
        "store as floor(v*N) integer-valued doubles — order-"
        "independent pooling sums, <0.1%% grid error at the default",
    )

    tk = sub.add_parser(
        "tokenize",
        help="segment a documents parquet with a learned BPE merges "
        "file (corpus --learn-bpe output); picks the expression or "
        "Arrow path by merge count",
    )
    tk.add_argument("--docs-parquet", required=True)
    tk.add_argument("--merges-json", required=True)
    tk.add_argument("--work-dir", required=True)

    lg = sub.add_parser(
        "linkgraph",
        help="extract the crawl link graph from WARC shards, collapse "
        "it to a host graph and rank hosts with damped PageRank "
        "(dangling-mass redistribution); writes edge + rank tables",
    )
    lg.add_argument("--warc-dir", required=True)
    lg.add_argument("--work-dir", required=True)
    lg.add_argument("--glob", default="*.warc*")
    lg.add_argument("--damping", type=float, default=0.85)
    lg.add_argument("--max-iter", type=int, default=100)
    lg.add_argument("--tol", type=float, default=1e-7)
    lg.add_argument("--level", choices=("host", "domain"),
                    default="host",
                    help="graph granularity: host, or the registered-"
                    "domain rollup where subdomain farms collapse")
    lg.add_argument("--metric", choices=("pagerank", "harmonic"),
                    default="pagerank",
                    help="centrality: damped PageRank, or HyperBall "
                    "harmonic centrality (the Common Crawl webgraph "
                    "ranking metric)")
    lg.add_argument("--include-nofollow", action="store_true",
                    help="count rel=nofollow/ugc/sponsored links as "
                    "edges (excluded by default — disclaimed links "
                    "must not mint centrality)")

    rp = sub.add_parser(
        "report",
        help="corpus statistics report: per-lang and per-source doc/"
        "char/token counts plus exact quality-score percentiles "
        "(distributed rank form, no per-group memory buffer)",
    )
    rp_src = rp.add_mutually_exclusive_group(required=True)
    rp_src.add_argument("--sf-dir")
    rp_src.add_argument("--docs-parquet")
    rp.add_argument("--work-dir", required=True)

    pk = sub.add_parser(
        "pack",
        help="pack a documents parquet into fixed-length training "
        "sequences (cross-doc, separator-joined) and land them in "
        "deterministic balanced shards with an integrity manifest",
    )
    pk.add_argument("--docs-parquet", required=True)
    pk.add_argument("--work-dir", required=True)
    pk.add_argument("--seq-len", type=int, default=512)
    pk.add_argument("--n-shards", type=int, default=8)
    pk.add_argument(
        "--merges-json",
        default=None,
        metavar="MERGES_PATH",
        help="segment with this learned BPE merges file (corpus "
        "--learn-bpe output) and pack the BPE token stream instead of "
        "the regex token stream",
    )

    cl = sub.add_parser(
        "classify",
        help="NB document classifier with a persisted train-once "
        "model artifact: build (or load) the model, score the corpus, "
        "write per-doc predictions",
    )
    cl_src = cl.add_mutually_exclusive_group(required=True)
    cl_src.add_argument("--sf-dir")
    cl_src.add_argument("--docs-parquet")
    cl.add_argument("--work-dir", required=True)
    cl.add_argument("--model-dir", default=None,
                    help="model artifact location (default "
                    "WORK_DIR/nb_model); committed models are served "
                    "as-is, a feature/label mismatch refuses")
    cl.add_argument("--train-parquet", default=None,
                    help="labeled training docs (doc_id, text, "
                    "LABEL_COL); default = self-train on the scored "
                    "corpus")
    cl.add_argument("--label-col", default="lang")
    cl.add_argument("--feature", choices=("search_tokens", "char_trigram"),
                    default="search_tokens",
                    help="tokenizer contract, pinned in the model "
                    "marker (char_trigram = langid-style lowercase "
                    "trigrams of a document prefix)")

    ig = sub.add_parser(
        "ingest",
        help="streaming corpus ingestion: drain a feed dir into the "
        "admitted store (WORK_DIR/admitted) with exact dedup vs "
        "corpus + earlier batches, optionally the persisted-Bloom "
        "prefilter and the near-dup tier (persisted MinHash band "
        "index, probe + exact-verify + append)",
    )
    ig.add_argument("--corpus-parquet", required=True,
                    help="static base corpus (dedup target)")
    ig.add_argument("--feed-dir", required=True)
    ig.add_argument("--work-dir", required=True)
    ig.add_argument("--max-files-per-trigger", type=int, default=None)
    ig.add_argument("--drop-gopher-fail", action="store_true",
                    help="reject Gopher-quality failures at ingestion "
                    "time, before dedup")
    ig.add_argument("--bloom-state", action="store_true",
                    help="persist the exact-tier Bloom bitmap at "
                    "WORK_DIR/bloom_state instead of rebuilding it "
                    "per micro-batch")
    ig.add_argument("--near-dup", action="store_true",
                    help="near-dup tier: probe + grow the MinHash "
                    "band index at WORK_DIR/minhash_index")
    ig.add_argument("--near-dup-threshold", type=float, default=None,
                    help="exact-Jaccard acceptance for the near-dup "
                    "tier (default operators.minhash_index."
                    "NEAR_DUP_THRESHOLD)")
    ig.add_argument("--quality-model", default=None, metavar="DIR",
                    help="trained NB model artifact (classify CLI): "
                    "score each batch and keep only --keep-pred "
                    "classes, BEFORE dedup (the FineWeb-Edu-style "
                    "classifier gate at ingestion time)")
    ig.add_argument("--keep-pred", default=None, metavar="C1,C2",
                    help="comma-separated predicted classes to admit "
                    "(required with --quality-model)")
    ig.add_argument("--compact-sink", action="store_true",
                    help="after the drain, rewrite the append-"
                    "fragmented admitted store as one file set, "
                    "committed by one manifest rename (one parquet "
                    "fragment lands per writing micro-batch otherwise)")
    ig.add_argument("--compact-index", action="store_true",
                    help="after the drain, rewrite the band index's "
                    "per-batch append fragments as one compact store "
                    "(torn-safe swap; requires --near-dup)")
    ig.add_argument(
        "--retention-minutes", type=float, default=None, metavar="M",
        help="vacuum time floor — see pipeline --retention-minutes; "
        "default 30, applies to the admitted store's compaction and "
        "the band index's compaction",
    )
    ig.add_argument("--semantic-dedup", action="store_true",
                    help="semantic tier: probe + grow the banded-LSH "
                    "bucket index over feature-hashed embeddings at "
                    "WORK_DIR/semantic_index (SemDeDup-style "
                    "ingestion dedup, no external model)")
    ig.add_argument("--semantic-threshold", type=float, default=0.9,
                    help="exact-cosine acceptance for the semantic "
                    "tier (over hash_embed vectors)")
    ig.add_argument("--encoder-model", default=None, metavar="DIR",
                    help="(--semantic-dedup) run the semantic tier on "
                    "the model-inference seam: encoder artifact at DIR "
                    "(built from corpus+sink on first use); the "
                    "encoder identity is pinned in the semantic "
                    "index's marker so vector spaces never mix")
    ig.add_argument("--lm-model", default=None, metavar="DIR",
                    help="perplexity gate: score each batch against "
                    "the persisted unigram LM artifact at DIR and keep "
                    "only docs with cross-entropy <= --max-xent "
                    "(CCNet filter; OOV gibberish lands at max xent "
                    "and is dropped); runs BEFORE dedup")
    ig.add_argument("--max-xent", type=float, default=None,
                    metavar="NATS",
                    help="cross-entropy acceptance bar for --lm-model")
    ig.add_argument("--url-bloom", action="store_true",
                    help="persist the URL tier's Bloom bitmap at "
                    "WORK_DIR/url_bloom_state (the scale path: per-"
                    "batch probe + sliver verify instead of a full "
                    "URL anti-join; requires --url-dedup-col)")
    ig.add_argument("--url-dedup-col", default=None, metavar="COL",
                    help="URL tier: reject re-crawls of "
                    "already-admitted URLs on canonical_url(COL) "
                    "BEFORE any quality gate or content tier "
                    "(utm/gclid tags, case, default ports and "
                    "trailing slashes normalized away); rows with "
                    "no usable URL pass through")
    ig.add_argument("--no-unicode-normalize", action="store_true",
                    help="skip the default text-seam normalization "
                    "(NFC + double-encoded-UTF-8 repair + invisible-"
                    "char strip) that runs ahead of every quality "
                    "gate and dedup tier")

    iv = sub.add_parser(
        "ingest-vectors",
        help="streaming EMBEDDING feed drain: near-dup dedup (exact "
        "cosine >= threshold) vs corpus + earlier batches via the "
        "persisted banded-LSH bucket index (probe + verify + append)",
    )
    iv.add_argument("--corpus-parquet", required=True,
                    help="static base vectors (vec_id, embedding)")
    iv.add_argument("--feed-dir", required=True)
    iv.add_argument("--work-dir", required=True)
    iv.add_argument("--threshold", type=float, default=None,
                    help="exact-cosine acceptance (default streaming."
                    "vectors.VECTOR_DUP_THRESHOLD)")
    iv.add_argument("--max-files-per-trigger", type=int, default=None)

    im = sub.add_parser(
        "ingest-media",
        help="streaming MEDIA feed drain: (id, payload) "
        "parquet batches embed through a committed encoder artifact "
        "(image-v1 / audio-v1 — the dedup-images/dedup-audio feature "
        "space), near-dup dedup (exact cosine >= threshold) vs corpus "
        "+ earlier batches via the persisted banded-LSH index + a "
        "vectors side-store (payloads are never re-decoded after "
        "admission); featureless payloads (constant image, silence) "
        "bypass the semantic tier",
    )
    im.add_argument("--corpus-parquet", required=True,
                    help="static base media (doc_id, payload binary)")
    im.add_argument("--feed-dir", required=True)
    im.add_argument("--work-dir", required=True)
    im.add_argument(
        "--modality", choices=("image", "audio", "video"), default=None,
        help="builds the stateless feature-space artifact under the "
        "work dir; required unless --encoder-model points at a "
        "committed encoder (video = the MJPEG/AVI sample "
        "tier: sampled frames -> JPEG decode -> pooled box features)",
    )
    im.add_argument(
        "--encoder-model", default=None, metavar="DIR",
        help="use an existing committed encoder artifact instead of "
        "the stateless --modality default (e.g. a learned image "
        "encoder imported at this seam); the index pins its identity",
    )
    im.add_argument("--threshold", type=float, default=None,
                    help="exact-cosine acceptance (default streaming."
                    "vectors.VECTOR_DUP_THRESHOLD)")
    im.add_argument("--max-files-per-trigger", type=int, default=None)

    mx = sub.add_parser(
        "mix",
        help="weighted interleave of corpora (training mixture weights); "
        "deterministic per key, zero shuffles",
    )
    mx.add_argument("--work-dir", required=True)
    mx.add_argument(
        "--source",
        action="append",
        required=True,
        metavar="NAME=PATH=WEIGHT",
        help="repeatable; e.g. --source web=/data/web=0.6 "
        "--source code=/data/code=1.0",
    )
    mx.add_argument("--key-col", default="doc_id")
    return p


def _payload_dedup_tiers(
    spark,
    clips,
    vecs,
    method: str,
    cosine_threshold: float,
    semdedup_threshold: float | None,
    enc_dim: int,
):
    """Shared vector-space dedup tiers for payload modalities (round
    13: factored from the dedup-audio handler so dedup-video reuses it
    verbatim).  ``vecs`` is the one-decode-pass features parquet
    read-back (vec_id, embedding); featureless payloads (absent from
    it) are singletons, never false-paired.  Returns (survivors_df,
    tier_counts) under the dedup_survivors contract; ``method`` is
    'near' (LSH + exact-cosine pair tier), 'semdedup', or 'both'
    (union of drops, components from the pair tier)."""
    from pyspark.sql import functions as F

    from .operators.components import dedup_survivors
    from .operators.similarity import (
        MAX_VECTOR_BUCKET,
        SEMDEDUP_THRESHOLD,
        embedding_dup_pairs_lsh,
        ivf_suggest_cells,
        semdedup_keep,
    )

    n_feat = vecs.count()
    tier_counts = {"featured": n_feat}
    near_surv = sem_surv = None
    if method in ("near", "both"):
        pairs = embedding_dup_pairs_lsh(
            vecs,
            threshold=cosine_threshold,
            planes_per_band=10,
            max_bucket=MAX_VECTOR_BUCKET,
            dim=enc_dim,
        ).select("id_a", "id_b")
        tier_counts["near_pairs"] = pairs.count()
        near_surv = dedup_survivors(clips.select("doc_id"), pairs)
    if method in ("semdedup", "both"):
        kept = semdedup_keep(
            vecs,
            threshold=(
                semdedup_threshold
                if semdedup_threshold is not None
                else SEMDEDUP_THRESHOLD
            ),
            k=max(1, min(ivf_suggest_cells(n_feat), n_feat // 4)),
        ).select(
            F.col("vec_id").alias("doc_id"), "component", "is_survivor"
        )
        flat = (
            clips.select("doc_id")
            .join(vecs.select(F.col("vec_id").alias("doc_id")),
                  "doc_id", "left_anti")
            .withColumn("component", F.col("doc_id"))
            .withColumn("is_survivor", F.lit(True))
        )
        sem_surv = kept.unionByName(flat)
        tier_counts["semdedup_dropped"] = sem_surv.filter(
            ~F.col("is_survivor")
        ).count()
    if method == "near":
        return near_surv, tier_counts
    if method == "semdedup":
        return sem_surv, tier_counts
    surv = near_surv.join(
        sem_surv.select("doc_id", F.col("is_survivor").alias("__sem")),
        "doc_id",
    ).select(
        "doc_id", "component",
        (F.col("is_survivor") & F.col("__sem")).alias("is_survivor"),
    )
    return surv, tier_counts


def _admitted_total(spark, sink: str) -> int:
    """Committed rows of an ingest sink; 0 when no batch ever wrote."""
    from .operators.manifest_sink import read_manifest_sink

    committed = read_manifest_sink(spark, sink)
    return 0 if committed is None else committed.count()


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    from .session import get_spark

    spark = get_spark("haensel-ams-cli")
    try:
        if args.command == "pipeline":
            from .operators.asof import JOURNEY_HOT_THRESHOLD
            from .plans.pipeline import run_pipeline

            scorer_call = None
            audit_path = None
            if args.scorer == "external":
                if not args.endpoint:
                    print("--scorer external requires --endpoint",
                          file=sys.stderr)
                    return 1
                from .operators.external import http_ihc_scorer

                scorer_call = http_ihc_scorer(
                    args.endpoint,
                    conv_type_id=args.conv_type_id,
                    api_key=args.api_key,
                )
                audit_path = f"{args.work_dir}/attribution_api_audit"
            result = run_pipeline(
                spark,
                args.sf_dir,
                f"{args.work_dir}/attribution_customer_journey",
                f"{args.work_dir}/channel_reporting",
                start_date=args.start_date,
                end_date=args.end_date,
                report_csv_path=f"{args.work_dir}/channel_reporting_csv",
                conv_type_id=args.conv_type_id,
                scorer=args.scorer,
                scorer_call=scorer_call,
                rate_limit_delay=args.rate_limit_delay,
                chunk_journeys=args.chunk_journeys,
                scorer_max_retries=args.scorer_max_retries,
                scorer_retry_delay=args.scorer_retry_delay,
                audit_path=audit_path,
                # unset -> the pipeline's default-on protection; 0 opts
                # out (run_pipeline treats 0 as None)
                hot_user_threshold=(
                    args.hot_user_threshold
                    if args.hot_user_threshold is not None
                    else JOURNEY_HOT_THRESHOLD
                ),
            )
            if args.compact_sink:
                from .operators.manifest_sink import (
                    DEFAULT_RETENTION_MINUTES,
                    manifest_compact,
                )

                n_compacted = manifest_compact(
                    spark, f"{args.work_dir}/attribution_customer_journey",
                    min_retention_minutes=(
                        args.retention_minutes
                        if args.retention_minutes is not None
                        else DEFAULT_RETENTION_MINUTES
                    ),
                )
                print(f"compacted_rows={n_compacted}")
            print(
                f"conversions={result.conversions_total} "
                f"scored={result.conversions_scored} "
                f"written={result.attribution_rows_written} "
                f"sum_violations={result.sum_violations} "
                f"report_rows={result.report_rows}"
            )
            return 0 if result.sum_violations == 0 else 1

        if args.command == "create-db":
            from .operators.sinks import create_tables, verify_tables

            create_tables(spark, args.work_dir)
            for name, schema in verify_tables(spark, args.work_dir).items():
                print(f"{name}: {schema}")
            return 0

        if args.command == "training-sample":
            from pyspark.sql import functions as F

            from .attribution import model as M
            from .operators.ihc import flag_conversion_session
            from .operators.sinks import export_json, journeys_as_api_payload

            journeys = M.journeys(spark, args.sf_dir)
            sample_convs = (
                journeys.select("conv_id").distinct()
                .orderBy(F.col("conv_id").cast("long"))
                .limit(args.limit)
            )
            sample = journeys.join(sample_convs, "conv_id", "left_semi")
            payload = journeys_as_api_payload(flag_conversion_session(sample))
            out = f"{args.work_dir}/training_sample_json"
            export_json(payload, out)
            print(f"journeys={payload.count()} -> {out}")
            return 0

        if args.command == "corpus":
            from pyspark.sql import functions as F

            from .operators.components import dedup_survivors
            from .operators.dedup import dedup_minhash_lsh, substring_dup_pairs
            from .operators.sampling import hash_split, stratum_cap
            from .sources import load_table

            from .session import respread_width

            n_quarantined = 0
            if args.docs_jsonl:
                from .sources.jsonl import read_documents_jsonl

                if args.docs_jsonl.endswith(".zst"):
                    # .jsonl.zst dumps route through the
                    # zstd rung (stdlib/zstandard ladder, loud refusal
                    # when neither is installed)
                    import os as _os

                    from .sources.zstdwire import read_documents_jsonl_zst

                    docs, quarantine = read_documents_jsonl_zst(
                        spark,
                        _os.path.dirname(args.docs_jsonl) or ".",
                        glob=_os.path.basename(args.docs_jsonl),
                    )
                else:
                    docs, quarantine = read_documents_jsonl(
                        spark, args.docs_jsonl
                    )
                # quarantine is observable, never silently dropped
                quarantine.write.mode("overwrite").parquet(
                    f"{args.work_dir}/quarantine"
                )
                n_quarantined = spark.read.parquet(
                    f"{args.work_dir}/quarantine"
                ).count()
            elif args.docs_warc:
                from .sources.warc import read_documents_warc

                docs, audit = read_documents_warc(spark, args.docs_warc)
                audit.write.mode("overwrite").parquet(
                    f"{args.work_dir}/warc_audit"
                )
                back = spark.read.parquet(f"{args.work_dir}/warc_audit")
                n_quarantined = back.agg(
                    F.sum(F.col("n_rejected") + F.col("n_malformed"))
                ).collect()[0][0] or 0
            else:
                docs = load_table(spark, args.sf_dir, "documents")
            if args.dedup_method == "minhash":
                pairs = dedup_minhash_lsh(docs)
            elif args.dedup_method == "substring":
                pairs = substring_dup_pairs(docs).select("id_a", "id_b")
            elif args.dedup_method == "semantic":
                # SemDeDup over feature-hashed embeddings: no external
                # model — hash_embed derives the vectors from the text,
                # k sizes by the constant-cell rule (BASELINE.md knob
                # table), the pair graph feeds the same CC resolution
                from .checkpoint import materialize
                from .operators.similarity import hash_embed, semdedup_pairs

                if args.semantic_k is not None and args.semantic_k <= 0:
                    print(
                        "--semantic-k must be a positive integer "
                        f"(got {args.semantic_k}); omit it for the "
                        "constant-cell auto sizing",
                        file=sys.stderr,
                    )
                    return 1
                if args.encoder_model:
                    # the model-inference seam: encoder artifact
                    # build-if-absent from this corpus, encoding via
                    # the executor-cached mapInPandas path — SemDeDup
                    # on (stand-in) model embeddings, the paper's
                    # actual regime
                    from .operators.embed import (
                        embed_with_model,
                        encoder_model_ensure,
                    )

                    encoder_model_ensure(docs, args.encoder_model)
                    vecs = materialize(
                        embed_with_model(docs, args.encoder_model)
                    )
                else:
                    vecs = materialize(hash_embed(docs))
                k = args.semantic_k
                if k is None:
                    k = max(4, vecs.count() // 400)
                pairs = semdedup_pairs(
                    vecs, threshold=args.semantic_threshold, k=k
                ).select("id_a", "id_b")
                # zero-token docs never hash-embed (hash_embed drops
                # them), yet md5-identical tokenless texts ('!!!')
                # are still exact dups — pair them by text hash so
                # semantic dedup keeps subsuming exact dedup
                tokenless = docs.join(
                    vecs.select(F.col("vec_id").alias("doc_id")),
                    "doc_id",
                    "left_anti",
                ).select("doc_id", F.md5("text").alias("__h"))
                zmins = tokenless.groupBy("__h").agg(
                    F.min("doc_id").alias("id_a")
                )
                zpairs = (
                    tokenless.join(zmins, "__h")
                    .filter(F.col("doc_id") != F.col("id_a"))
                    .select("id_a", F.col("doc_id").alias("id_b"))
                )
                pairs = pairs.unionByName(zpairs)
            else:  # both text signals, one cluster resolution (CC dedups edges)
                pairs = dedup_minhash_lsh(docs).unionByName(
                    substring_dup_pairs(docs).select("id_a", "id_b")
                )
            kept = dedup_survivors(docs, pairs, order_col="n_chars").filter(
                "is_survivor"
            )
            # same AQE layout repair as the corpus_survivors_split
            # registry entry: the tiny survivor-window shuffle coalesces
            # to ~1 partition, which would single-thread the
            # decontamination explodes / PII regexes / parquet write
            kept = kept.repartition(respread_width(spark))
            n_contaminated = 0
            flagged = None
            if args.decontaminate_against:
                from .operators.contamination import contamination_check

                ev = spark.read.parquet(args.decontaminate_against)
                flagged = (
                    contamination_check(
                        kept,
                        ev,
                        n=args.decontaminate_ngram,
                        min_overlap_frac=args.decontaminate_min_overlap,
                    )
                    .select(F.col("train_id").alias("doc_id"))
                    .distinct()
                )
                # the flagged id list feeds two actions (count + the
                # anti-join inside the corpus write); persist the tiny
                # result so the contamination plan runs once
                flagged.persist()
                n_contaminated = flagged.count()
                kept = kept.join(flagged, "doc_id", "left_anti")
            n_blocked = 0
            if args.block_hosts:
                from .operators.blocklist import blocklist_flag
                from .session import local_frame

                bl = local_frame(
                    spark,
                    [
                        (h.strip(),)
                        for h in open(args.block_hosts)
                        if h.strip() and not h.startswith("#")
                    ],
                    "blocked_host string",
                )
                kept = blocklist_flag(kept, bl, host_col="source")
                n_blocked = kept.agg(
                    F.sum(F.col("blocked").cast("long"))
                ).collect()[0][0] or 0
                kept = kept.filter(~F.col("blocked")).drop("blocked")
            n_lines_cut = 0
            if args.remove_boilerplate_lines:
                from .operators.dedup import remove_duplicate_lines

                cuts = remove_duplicate_lines(kept)
                n_lines_cut = cuts.agg(
                    F.sum("n_lines_removed")
                ).collect()[0][0] or 0
                kept = (
                    kept.join(
                        cuts.select("doc_id", "text_cut"), "doc_id", "left"
                    )
                    .withColumn("text", F.coalesce("text_cut", "text"))
                    .drop("text_cut")
                )
            n_quality_dropped = 0
            if args.drop_gopher_fail:
                from .functions.text import gopher_quality_pass

                # one action for the dropped count — a before/after
                # count pair would re-run the unpersisted dedup +
                # decontamination pipeline twice more
                n_quality_dropped = kept.agg(
                    F.sum(
                        (~gopher_quality_pass("text")).cast("long")
                    ).alias("n")
                ).collect()[0]["n"] or 0
                kept = kept.filter(gopher_quality_pass("text"))
            if args.cap_per_lang is not None:
                kept = stratum_cap(kept, ["lang"], args.cap_per_lang, "doc_id")
            if args.redact_pii:
                from .functions.text import redact_pii

                kept = kept.withColumn("text", redact_pii("text"))
            fractions = {"train": args.train, "val": args.val, "test": args.test}
            split = hash_split(kept, "doc_id", fractions)
            out = f"{args.work_dir}/corpus"
            split.write.mode("overwrite").partitionBy("split").parquet(out)
            if flagged is not None:
                flagged.unpersist()
            back = spark.read.parquet(out)
            counts = {
                r["split"]: r["count"]
                for r in back.groupBy("split").count().collect()
            }
            n_merges_learned = 0
            if args.learn_bpe is not None:
                import json as _json

                from .operators.bpe import MAX_SEGMENT_MERGES, bpe_train

                if args.byte_level_bpe:
                    # byte dialect: the local trainer (one distributed
                    # aggregation + driver greedy) and a dialect-tagged
                    # merges file so consumers pick the right segmenter
                    from .operators.bpe_bytes import (
                        bpe_train_bytes_local,
                        export_gpt2_tokenizer,
                    )

                    merges = bpe_train_bytes_local(
                        back.filter(F.col("split") == "train"),
                        args.learn_bpe,
                    )
                    payload: object = {
                        "dialect": "byte-level",
                        "merges": [list(m) for m in merges],
                    }
                    # also ship the PUBLISHED file pair
                    # (vocab.json + merges.txt) so standard tokenizer
                    # loaders consume the artifact without engine code
                    export_gpt2_tokenizer(
                        merges, f"{args.work_dir}/tokenizer"
                    )
                else:
                    if args.learn_bpe > MAX_SEGMENT_MERGES:
                        raise ValueError(
                            f"--learn-bpe {args.learn_bpe} exceeds "
                            f"MAX_SEGMENT_MERGES={MAX_SEGMENT_MERGES}"
                        )

                    merges = bpe_train(
                        back.filter(F.col("split") == "train"),
                        args.learn_bpe,
                    )
                    payload = [list(m) for m in merges]
                n_merges_learned = len(merges)
                with open(f"{args.work_dir}/bpe_merges.json", "w") as fh:
                    _json.dump(payload, fh)
            if args.save_near_dup_index:
                from .operators.minhash_index import minhash_index_build

                n_idx = minhash_index_build(
                    back.select("doc_id", "text"),
                    args.save_near_dup_index,
                    force=True,
                ).table("bands").count()
                print(
                    f"near_dup_index_rows={n_idx} "
                    f"-> {args.save_near_dup_index}"
                )
            if args.save_lm_model:
                from .operators.lm import lm_model_build

                lm_terms, _lm_stats = lm_model_build(
                    back.filter(F.col("split") == "train"),
                    args.save_lm_model,
                )
                print(
                    f"lm_vocab={lm_terms.count()} -> {args.save_lm_model}"
                )
            total_in = docs.count()
            total_out = sum(counts.values())
            print(
                f"docs={total_in} quarantined={n_quarantined} "
                f"survivors={total_out} "
                f"contaminated={n_contaminated} "
                f"blocked={n_blocked} "
                f"boilerplate_lines_cut={n_lines_cut} "
                f"quality_dropped={n_quality_dropped} "
                f"bpe_merges={n_merges_learned} "
                + " ".join(f"{k}={counts.get(k, 0)}" for k in fractions)
                + f" -> {out}"
            )
            return 0

        if args.command == "search":
            from .sources import load_table

            if args.media_parquet is not None:
                if args.method != "ann" or not args.encoder_model:
                    print(
                        "--media-parquet requires --method ann and "
                        "--encoder-model (a committed image-v1/audio-v1 "
                        "artifact)",
                        file=sys.stderr,
                    )
                    return 2
                docs = spark.read.parquet(args.media_parquet)
            elif args.sf_dir is None:
                print("search needs --sf-dir or --media-parquet",
                      file=sys.stderr)
                return 2
            else:
                docs = load_table(spark, args.sf_dir, "documents")
            queries = spark.read.parquet(args.queries_parquet)
            if args.method == "ann":
                # text -> feature-hashed vectors -> IVF ANN against a
                # PERSISTENT index (built under the work dir on first
                # use, served from disk after — the production shape)
                from pyspark.sql import functions as F

                from .operators.similarity import (
                    ann_topk_ivf,
                    hash_embed,
                    ivf_index_append,
                )

                if args.encoder_model:
                    # the model seam: one encoder for docs AND queries
                    # (a query embedded in a different space than the
                    # index finds noise); the index dir is keyed by the
                    # encoder's CONTENT version so an
                    # index built under encoder A can never be probed
                    # or --refresh-index-appended with B-space vectors
                    # — a different/rebuilt encoder simply builds its
                    # own artifact (the stale one is an orphan dir,
                    # explicit and harmless)
                    from .operators.artifact_manifest import artifact_open
                    from .operators.embed import (
                        embed_with_model,
                        encoder_model_ensure,
                    )

                    # text corpora may BUILD the encoder on first use;
                    # media needs a committed artifact (there is no
                    # text to train from — embed_with_model raises the
                    # clear error if it is absent).  Docs and queries
                    # encode with this one snapshot.
                    enc = (
                        artifact_open(spark, args.encoder_model)
                        if args.media_parquet is not None
                        else encoder_model_ensure(docs, args.encoder_model)
                    )
                    model = enc if enc is not None else args.encoder_model
                    dvecs = embed_with_model(docs, model)
                    qvecs = embed_with_model(queries, model, id_col="query_id")
                    enc_v = enc.params.get("version", "1")
                    index_path = f"{args.work_dir}/ann_index_model_v{enc_v}"
                else:
                    dvecs = hash_embed(docs)
                    qvecs = hash_embed(queries, id_col="query_id")
                    index_path = f"{args.work_dir}/ann_index"
                from .operators.artifact_manifest import artifact_open

                def _committed():
                    snap = artifact_open(spark, index_path)
                    got = snap.params if snap is not None else {}
                    # absent (first run builds below) or a foreign
                    # artifact (ivf_index_persistent refuses loudly) —
                    # either way there is nothing to adopt or retrain
                    return got if got.get("kind") == "ivf" else {}

                committed = _committed()
                if args.refresh_index and committed:
                    # anti-joins already-indexed ids, so handing it the
                    # full corpus appends exactly the new docs — AT THE
                    # COMMITTED SHAPE: a retrained index pins a resized
                    # k, and appending with the session default would
                    # refuse (swallowing that refusal would silently
                    # stop indexing new documents)
                    ivf_index_append(
                        dvecs, index_path,
                        k=int(committed["k"]),
                        iters=int(committed["iters"]),
                    )
                    # the append refreshed drift_stat — re-read it
                    committed = _committed()
                # (with no committed index, --refresh-index is moot:
                # the query below builds fresh over the full corpus)
                if args.retrain_if_drift is not None and committed:
                    drift = float(committed.get("drift_stat", "1.0"))
                    if drift > args.retrain_if_drift:
                        from .operators.similarity import ivf_index_retrain

                        committed = ivf_index_retrain(
                            dvecs,
                            index_path,
                            train_sample_cap=args.train_sample_cap,
                        )
                        print(
                            f"retrained: drift_stat={drift:.4f} > "
                            f"{args.retrain_if_drift} "
                            f"k={committed.get('retrained_from_k')}"
                            f"->{committed.get('k')} "
                            f"version={committed.get('version')}"
                        )
                # adopt the committed artifact's own size: a retrained
                # (or differently-built) index pins its k/iters in the
                # marker, and querying it with the session defaults
                # would refuse to serve (the hyperparameter check)
                ivf_shape = (
                    {
                        "cells": int(committed["k"]),
                        "iters": int(committed["iters"]),
                    }
                    if committed
                    else {}
                )
                hits = ann_topk_ivf(
                    dvecs,
                    qvecs,
                    k=args.k,
                    index_path=index_path,
                    train_sample_cap=args.train_sample_cap,
                    **ivf_shape,
                ).select(
                    "query_id",
                    F.col("neighbor_id").alias("doc_id"),
                    F.col("cosine").alias("score"),
                    "rank",
                )
                if args.index_stats:
                    st = _committed()
                    print(
                        "index-stats "
                        f"path={index_path} "
                        f"version={st.get('version')} "
                        f"drift_stat={st.get('drift_stat')} "
                        f"train_sample_cap={st.get('train_sample_cap')} "
                        f"n_train_total={st.get('n_train_total')} "
                        f"cell_profile={st.get('cell_profile')}"
                    )
            else:
                from .operators.retrieval import bm25_topk

                hits = bm25_topk(
                    docs,
                    queries,
                    k=args.k,
                    exclude_self=False,
                    max_df_frac=args.max_df_frac,
                )
            out = f"{args.work_dir}/search_hits"
            hits.write.mode("overwrite").parquet(out)
            back = spark.read.parquet(out)
            n_q = back.select("query_id").distinct().count()
            if args.media_parquet is not None:
                # a featureless media query (constant image, silence)
                # has no vector and can match nothing — say so instead
                # of letting it silently vanish from the hit set
                n_total = queries.select("query_id").distinct().count()
                if n_q < n_total:
                    print(
                        f"note: {n_total - n_q} of {n_total} media "
                        "queries are featureless (constant image / "
                        "silence — no direction to search with) and "
                        "have no hit rows",
                        file=sys.stderr,
                    )
            print(f"method={args.method} queries={n_q} hits={back.count()} -> {out}")
            return 0

        if args.command == "dedup-images":
            from pyspark.sql import functions as F

            from .multimodal.phash import (
                PHASH_MAX_HAMMING,
                image_phash,
                phash_dup_pairs,
            )
            from .operators.components import dedup_survivors

            images = spark.read.parquet(args.images_parquet)
            # ONE python decode pass regardless of method: land the
            # per-image table (hashes; for the semantic tiers also the
            # box features) as a product artifact and run every
            # downstream consumer off the parquet read-back — no
            # localCheckpoint copies (second review pass: materialize
            # here + the pair scan's internal one made three copies),
            # and for --method both the two tiers SHARE the decode
            # (the per-pixel Python unfilter is the dominant cost).
            if args.encoder_model is not None and args.method in (
                "phash", "both",
            ):
                print(
                    "--encoder-model applies to --method embed/semdedup "
                    "only (phash uses no encoder; both's one-decode-pass "
                    "contract is stateless-only)",
                    file=sys.stderr,
                )
                return 2
            enc_dim = 64
            if args.method == "phash":
                decoded = image_phash(images)
            elif args.encoder_model is not None:
                # a committed (possibly PROJECTED) encoder: the
                # semantic tier runs in ITS space at ITS dim
                from .operators.artifact_manifest import artifact_open
                from .operators.embed import IMAGE_KIND, embed_with_model

                enc = artifact_open(spark, args.encoder_model)
                enc_got = enc.params if enc is not None else {}
                if enc_got.get("encoder") != IMAGE_KIND:
                    # an audio/text encoder over image payloads would
                    # silently fall to the fake rung (byte-exact-only
                    # matching) — refuse instead
                    print(
                        f"--encoder-model at {args.encoder_model} is "
                        f"{enc_got.get('encoder') or 'missing'}, not an "
                        "image encoder",
                        file=sys.stderr,
                    )
                    return 2
                enc_dim = int(enc_got.get("dim", 64))
                vecs = embed_with_model(images, enc).select(
                    F.col("vec_id").alias("doc_id"), "embedding"
                )
                decoded = (
                    images.select("doc_id")
                    .join(vecs, "doc_id", "left")
                    .withColumn("decoder", F.lit("encoder"))
                )
            else:
                from .multimodal.imgembed import (
                    IMG_GRID,
                    image_encoder_build,
                    image_hash_embed,
                )

                # commit the feature space the semantic tier runs in
                # (the encoder-artifact discipline: index params and
                # worker caches key on it)
                image_encoder_build(spark, f"{args.work_dir}/image_encoder")
                decoded = image_hash_embed(images, grid=IMG_GRID)
            decoded.write.mode("overwrite").parquet(
                f"{args.work_dir}/image_hashes"
            )
            hashes = spark.read.parquet(f"{args.work_dir}/image_hashes")
            if args.method == "semdedup":
                from .operators.similarity import semdedup_keep

                featured = hashes.filter(
                    F.col("embedding").isNotNull()
                ).select(F.col("doc_id").alias("vec_id"), "embedding")
                n_feat = featured.count()
                # SemDeDup compares WITHIN k-means cells: k sizes the
                # occupancy trade (too many cells splits true groups
                # across cell borders — at k=n every image is alone
                # and nothing dedups; too few makes the in-cell pair
                # scan quadratic).  sqrt-N cells (the IVF sizing rule)
                # floored so tiny corpora stay in one cell — a fixed
                # cap of 10 put 100k images in 10 cells and made the
                # in-cell scan O(n^2/10).
                from .operators.similarity import ivf_suggest_cells

                kept = semdedup_keep(
                    featured,
                    threshold=args.cosine_threshold,
                    k=max(1, min(ivf_suggest_cells(n_feat), n_feat // 4)),
                ).select(
                    F.col("vec_id").alias("doc_id"),
                    "component", "is_survivor",
                )
                # featureless images (no direction) are singletons
                flat = (
                    hashes.filter(F.col("embedding").isNull())
                    .select("doc_id")
                    .withColumn("component", F.col("doc_id"))
                    .withColumn("is_survivor", F.lit(True))
                )
                surv = kept.unionByName(flat)
                out = f"{args.work_dir}/image_survivors"
                surv.write.mode("overwrite").parquet(out)
                back = spark.read.parquet(out)
                n = back.count()
                n_kept = back.filter("is_survivor").count()
                print(
                    f"method=semdedup images={n} survivors={n_kept} "
                    f"dropped={n - n_kept} featured={n_feat} -> {out}"
                )
                return 0
            tier_counts = {}
            tiers = []
            if args.method in ("phash", "both"):
                p = phash_dup_pairs(
                    hashes,
                    max_hamming=(
                        args.max_hamming
                        if args.max_hamming is not None
                        else PHASH_MAX_HAMMING
                    ),
                    pre_materialized=True,
                    n_bands=args.bands,
                ).select("id_a", "id_b")
                tier_counts["phash_pairs"] = p.count()
                tiers.append(p)
            if args.method in ("embed", "both"):
                from .operators.similarity import (
                    MAX_VECTOR_BUCKET,
                    embedding_dup_pairs_lsh,
                )

                # constant images carry no feature direction (NULL
                # embedding — the zero-vector contract): singletons
                # for this tier, still in the doc list below
                e = embedding_dup_pairs_lsh(
                    hashes.filter(F.col("embedding").isNotNull()).select(
                        "doc_id", "embedding"
                    ),
                    threshold=args.cosine_threshold,
                    planes_per_band=10,
                    id_col="doc_id",
                    max_bucket=MAX_VECTOR_BUCKET,
                    dim=enc_dim,
                ).select("id_a", "id_b")
                tier_counts["embed_pairs"] = e.count()
                tiers.append(e)
            pairs = tiers[0]
            if len(tiers) > 1:
                pairs = pairs.unionByName(tiers[1]).distinct()
            surv = dedup_survivors(hashes.select("doc_id"), pairs)
            out = f"{args.work_dir}/image_survivors"
            surv.write.mode("overwrite").parquet(out)
            back = spark.read.parquet(out)
            n = back.count()
            kept = back.filter("is_survivor").count()
            decoders = {
                r["decoder"]: r["n"]
                for r in hashes.groupBy("decoder")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            tier_str = "".join(f" {k}={v}" for k, v in tier_counts.items())
            print(
                f"method={args.method} images={n} survivors={kept} "
                f"dropped={n - kept}{tier_str} "
                f"decoders={decoders} -> {out}"
            )
            return 0

        if args.command == "dedup-audio":
            from .multimodal.audioembed import audio_encoder_build
            from .operators.embed import embed_with_model

            clips = spark.read.parquet(args.audio_parquet)
            # the feature space is a committed artifact (index markers
            # and worker caches key on it); features land as a product
            # parquet and every consumer runs off the read-back (one
            # Python decode pass — the dedup-images discipline)
            enc_dim = 64
            if args.encoder_model is not None:
                from .operators.artifact_manifest import artifact_open
                from .operators.embed import AUDIO_KIND

                enc = artifact_open(spark, args.encoder_model)
                enc_got = enc.params if enc is not None else {}
                if enc_got.get("encoder") != AUDIO_KIND:
                    print(
                        f"--encoder-model at {args.encoder_model} is "
                        f"{enc_got.get('encoder') or 'missing'}, not an "
                        "audio encoder",
                        file=sys.stderr,
                    )
                    return 2
                enc_dim = int(enc_got.get("dim", 64))
            else:
                enc = audio_encoder_build(
                    spark, f"{args.work_dir}/audio_encoder"
                )
            embed_with_model(clips, enc).write.mode("overwrite").parquet(
                f"{args.work_dir}/audio_features"
            )
            vecs = spark.read.parquet(f"{args.work_dir}/audio_features")
            # the shared vector-space tiers ('envelope' is the audio
            # spelling of the near-dup pair tier)
            surv, tier_counts = _payload_dedup_tiers(
                spark, clips, vecs,
                method="near" if args.method == "envelope" else args.method,
                cosine_threshold=args.cosine_threshold,
                semdedup_threshold=args.semdedup_threshold,
                enc_dim=enc_dim,
            )
            n_feat = tier_counts.pop("featured")
            if "near_pairs" in tier_counts:
                tier_counts["envelope_pairs"] = tier_counts.pop("near_pairs")
            out = f"{args.work_dir}/audio_survivors"
            surv.write.mode("overwrite").parquet(out)
            back = spark.read.parquet(out)
            n = back.count()
            kept_n = back.filter("is_survivor").count()
            tier_str = "".join(f" {k}={v}" for k, v in tier_counts.items())
            print(
                f"method={args.method} clips={n} survivors={kept_n} "
                f"dropped={n - kept_n}{tier_str} featured={n_feat} -> {out}"
            )
            return 0

        if args.command == "dedup-video":
            from .multimodal.videoembed import video_encoder_build
            from .operators.artifact_manifest import artifact_open
            from .operators.embed import VIDEO_KIND, embed_with_model

            clips = spark.read.parquet(args.videos_parquet)
            enc_dim = 64
            if args.encoder_model is not None:
                enc = artifact_open(spark, args.encoder_model)
                enc_got = enc.params if enc is not None else {}
                if enc_got.get("encoder") != VIDEO_KIND:
                    # a non-video encoder over clip payloads would
                    # silently fall to the fake rung (byte-exact-only
                    # matching) — refuse instead
                    print(
                        f"--encoder-model at {args.encoder_model} is "
                        f"{enc_got.get('encoder') or 'missing'}, not a "
                        "video encoder",
                        file=sys.stderr,
                    )
                    return 2
                enc_dim = int(enc_got.get("dim", 64))
            else:
                enc = video_encoder_build(
                    spark, f"{args.work_dir}/video_encoder"
                )
            # one demux+decode pass lands as a product parquet; every
            # tier runs off the read-back (the dedup-images discipline)
            embed_with_model(clips, enc).write.mode("overwrite").parquet(
                f"{args.work_dir}/video_features"
            )
            vecs = spark.read.parquet(f"{args.work_dir}/video_features")
            surv, tier_counts = _payload_dedup_tiers(
                spark, clips, vecs,
                method="near" if args.method == "clip" else args.method,
                cosine_threshold=args.cosine_threshold,
                semdedup_threshold=args.semdedup_threshold,
                enc_dim=enc_dim,
            )
            n_feat = tier_counts.pop("featured")
            if "near_pairs" in tier_counts:
                tier_counts["clip_pairs"] = tier_counts.pop("near_pairs")
            out = f"{args.work_dir}/video_survivors"
            surv.write.mode("overwrite").parquet(out)
            back = spark.read.parquet(out)
            n = back.count()
            kept_n = back.filter("is_survivor").count()
            tier_str = "".join(f" {k}={v}" for k, v in tier_counts.items())
            print(
                f"method={args.method} clips={n} survivors={kept_n} "
                f"dropped={n - kept_n}{tier_str} featured={n_feat} -> {out}"
            )
            return 0

        if args.command == "import-imageenc":
            from .multimodal.imgembed import IMG_GRID, image_encoder_import

            weights = spark.read.parquet(args.weights_parquet)
            params = image_encoder_import(
                spark, weights, args.model_dir,
                grid=args.grid if args.grid is not None else IMG_GRID,
            )
            print(
                f"imported image projection: dim={params['dim']} "
                f"grid={params['grid']} version={params['version']} "
                f"-> {args.model_dir}"
            )
            return 0

        if args.command == "import-audioenc":
            from .multimodal.audioembed import (
                AUDIO_GRID,
                audio_encoder_import,
            )

            weights = spark.read.parquet(args.weights_parquet)
            params = audio_encoder_import(
                spark, weights, args.model_dir,
                grid=args.grid if args.grid is not None else AUDIO_GRID,
            )
            print(
                f"imported audio projection: dim={params['dim']} "
                f"grid={params['grid']} version={params['version']} "
                f"-> {args.model_dir}"
            )
            return 0

        if args.command == "import-wordvec":
            from .operators.embed import (
                WORDVEC_SCALE,
                wordvec_import_vec_file,
                wordvec_model_import,
            )
            from .operators.artifact_manifest import artifact_open

            scale = args.scale if args.scale is not None else WORDVEC_SCALE
            extra = ""
            if args.vec_file is not None:
                stats = wordvec_import_vec_file(
                    spark, args.vec_file, args.model_dir, scale=scale
                )
                extra = f" quarantined={stats['quarantined']}"
                if (
                    stats["declared_terms"] is not None
                    and stats["declared_terms"]
                    != stats["imported"] + stats["quarantined"]
                ):
                    extra += (
                        f" WARNING: header declares "
                        f"{stats['declared_terms']} terms but the file "
                        f"holds {stats['imported'] + stats['quarantined']}"
                        " — truncated export?"
                    )
            else:
                vectors = spark.read.parquet(args.vectors_parquet)
                wordvec_model_import(vectors, args.model_dir, scale=scale)
            # manifest-resolved: a RE-import leaves the superseded
            # generation on disk for one more commit
            model = artifact_open(spark, args.model_dir)
            params = model.params
            n = model.table("vectors").count()
            print(
                f"imported terms={n} dim={params['dim']} "
                f"scale={params['scale']} version={params['version']} "
                f"-> {args.model_dir}{extra}"
            )
            return 0

        if args.command == "tokenize":
            from pyspark.sql import functions as F

            from .operators.bpe import (
                MAX_SEGMENT_MERGES,
                bpe_segment,
                bpe_segment_arrow,
            )
            from .operators.bpe_bytes import (
                bpe_segment_bytes_arrow,
                load_merges_json,
            )

            dialect, merges = load_merges_json(args.merges_json)
            docs = spark.read.parquet(args.docs_parquet)
            if dialect == "byte-level":
                seg = bpe_segment_bytes_arrow(docs, merges)
            else:
                seg = (
                    bpe_segment(docs, merges)
                    if len(merges) <= MAX_SEGMENT_MERGES
                    else bpe_segment_arrow(docs, merges)
                )
            out = f"{args.work_dir}/tokenized"
            seg.write.mode("overwrite").parquet(out)
            back = spark.read.parquet(out)
            stats = back.agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.size("bpe_tokens")).alias("tokens"),
            ).collect()[0]
            print(
                f"docs={stats['docs']} bpe_tokens={stats['tokens']} "
                f"merges={len(merges)} dialect={dialect} -> {out}"
            )
            return 0

        if args.command == "linkgraph":
            from pyspark.sql import functions as F

            from .operators.linkgraph import (
                domain_graph,
                harmonic_centrality,
                host_graph,
                pagerank,
            )
            from .sources.warc import read_links_warc

            links = read_links_warc(spark, args.warc_dir, glob=args.glob)
            follow_only = not args.include_nofollow
            if args.level == "domain":
                g = domain_graph(links, follow_only=follow_only)
                key = ("src_domain", "dst_domain", "domain")
            else:
                g = host_graph(links, follow_only=follow_only)
                key = ("src_host", "dst_host", "host")
            g.write.mode("overwrite").parquet(
                f"{args.work_dir}/{key[2]}_graph"
            )
            g = spark.read.parquet(f"{args.work_dir}/{key[2]}_graph")
            if args.metric == "harmonic":
                ranks = harmonic_centrality(
                    g, src=key[0], dst=key[1],
                    max_radius=args.max_iter,
                ).select(
                    F.col("node").alias(key[2]),
                    F.col("harmonic").alias("rank"),
                    "n_coreachable",
                )
            else:
                ranks = pagerank(
                    g, src=key[0], dst=key[1], damping=args.damping,
                    max_iter=args.max_iter, tol=args.tol,
                ).withColumnRenamed("node", key[2])
            ranks.write.mode("overwrite").parquet(
                f"{args.work_dir}/{key[2]}_rank"
            )
            back = spark.read.parquet(f"{args.work_dir}/{key[2]}_rank")
            top = back.orderBy(F.col("rank").desc(), key[2]).limit(5)
            n_edges = g.count()
            n_nodes = back.count()
            print(
                f"edges={n_edges} {key[2]}s={n_nodes} "
                f"metric={args.metric} -> "
                f"{args.work_dir}/{key[2]}_rank"
            )
            for r in top.collect():
                print(f"  {r[key[2]]}\t{r['rank']:.6f}")
            return 0

        if args.command == "report":
            from pyspark.sql import functions as F

            from .functions import text as T
            from .operators.rank import grouped_exact_percentiles
            from .sources import load_table

            docs = (
                load_table(spark, args.sf_dir, "documents")
                if args.sf_dir
                else spark.read.parquet(args.docs_parquet)
            )
            scored = docs.select(
                "doc_id", "lang", "source",
                F.length("text").cast("long").alias("chars"),
                T.token_count("text").cast("long").alias("tokens"),
                (
                    F.lit(0.5) * T.stopword_ratio("text")
                    + F.lit(0.3) * (F.lit(1.0) - T.punct_ratio("text"))
                    + F.lit(0.2)
                    * F.least(
                        F.lit(1.0),
                        T.token_count("text").cast("double") / F.lit(100.0),
                    )
                ).alias("quality"),
            )
            out = {}
            for dim in ("lang", "source"):
                counts = scored.groupBy(dim).agg(
                    F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("chars").cast("long").alias("n_chars"),
                    F.sum("tokens").cast("long").alias("n_tokens"),
                )
                pcts = grouped_exact_percentiles(
                    scored, [dim], "quality", "doc_id",
                    {"q25": 0.25, "q50": 0.5, "q75": 0.75},
                )
                rep = counts.join(pcts, dim)
                rep.write.mode("overwrite").parquet(
                    f"{args.work_dir}/report_{dim}"
                )
                out[dim] = spark.read.parquet(
                    f"{args.work_dir}/report_{dim}"
                ).count()
            tot = scored.agg(
                F.count(F.lit(1)), F.sum("chars"), F.sum("tokens")
            ).collect()[0]
            print(
                f"docs={tot[0]} chars={tot[1]} tokens={tot[2]} "
                f"langs={out['lang']} sources={out['source']} "
                f"-> {args.work_dir}/report_lang, report_source"
            )
            return 0

        if args.command == "pack":
            from pyspark.sql import functions as F

            from .operators.pack import pack_sequences
            from .operators.sinks import write_training_shards

            docs = spark.read.parquet(args.docs_parquet)
            if args.merges_json:
                from .operators.bpe import (
                    MAX_SEGMENT_MERGES,
                    bpe_segment,
                    bpe_segment_arrow,
                )
                from .operators.bpe_bytes import (
                    bpe_segment_bytes_arrow,
                    load_merges_json,
                )

                dialect, merges = load_merges_json(args.merges_json)
                if dialect == "byte-level":
                    docs = bpe_segment_bytes_arrow(docs, merges)
                else:
                    docs = (
                        bpe_segment(docs, merges)
                        if len(merges) <= MAX_SEGMENT_MERGES
                        else bpe_segment_arrow(docs, merges)
                    )
                seqs = pack_sequences(
                    docs, seq_len=args.seq_len, tokens_col="bpe_tokens"
                )
            else:
                seqs = pack_sequences(docs, seq_len=args.seq_len)
            manifest = write_training_shards(
                seqs, args.work_dir, args.n_shards, token_col="n_tokens"
            )
            stats = manifest.agg(
                F.count(F.lit(1)).alias("shards"),
                F.sum("n_rows").alias("seqs"),
                F.sum("n_tokens").alias("tokens"),
            ).collect()[0]
            print(
                f"seqs={stats['seqs']} tokens={stats['tokens']} "
                f"seq_len={args.seq_len} shards={stats['shards']} "
                f"-> {args.work_dir}/shards (+ manifest)"
            )
            return 0

        if args.command == "classify":
            from .operators.classify import (
                LANGID_SAMPLE_CHARS,
                char_ngram_tokens_col,
                nb_classify_model,
                nb_model_build,
            )
            from .sources import load_table

            docs = (
                load_table(spark, args.sf_dir, "documents")
                if args.sf_dir
                else spark.read.parquet(args.docs_parquet)
            )
            train = (
                spark.read.parquet(args.train_parquet)
                if args.train_parquet
                else docs
            )
            tokens_col = None
            feature = "search_tokens"
            if args.feature == "char_trigram":
                train = char_ngram_tokens_col(train)
                docs = char_ngram_tokens_col(docs)
                tokens_col = "__cg"
                feature = f"char_trigram_{LANGID_SAMPLE_CHARS}"
            model_dir = args.model_dir or f"{args.work_dir}/nb_model"
            terms, classes = nb_model_build(
                train, model_dir, label_col=args.label_col,
                tokens_col=tokens_col, feature=feature,
            )
            pred = nb_classify_model(
                docs, terms, classes, tokens_col=tokens_col
            )
            out = f"{args.work_dir}/predictions"
            pred.write.mode("overwrite").parquet(out)
            n = spark.read.parquet(out).count()
            n_classes = classes.count()
            print(
                f"model={model_dir} classes={n_classes} "
                f"scored={n} -> {out}"
            )
            return 0

        if args.command == "ingest":
            from .streaming.ingest import run_streaming_ingest

            if args.compact_index and not args.near_dup:
                print("--compact-index requires --near-dup "
                      "(there is no band index without it)",
                      file=sys.stderr)
                return 1
            if args.encoder_model and not args.semantic_dedup:
                print("--encoder-model requires --semantic-dedup "
                      "(it selects that tier's embedder)",
                      file=sys.stderr)
                return 1
            if bool(args.lm_model) != (args.max_xent is not None):
                print("--lm-model and --max-xent go together",
                      file=sys.stderr)
                return 1
            if bool(args.quality_model) != bool(args.keep_pred):
                print("--quality-model and --keep-pred go together",
                      file=sys.stderr)
                return 1
            if args.url_bloom and not args.url_dedup_col:
                print("--url-bloom requires --url-dedup-col "
                      "(the bitmap is keyed on that column)",
                      file=sys.stderr)
                return 1
            sink = f"{args.work_dir}/admitted"
            run_streaming_ingest(
                spark,
                args.corpus_parquet,
                args.feed_dir,
                sink,
                f"{args.work_dir}/checkpoint",
                max_files_per_trigger=args.max_files_per_trigger,
                drop_gopher_fail=args.drop_gopher_fail,
                bloom_state_dir=(
                    f"{args.work_dir}/bloom_state" if args.bloom_state else None
                ),
                near_dup_index_dir=(
                    f"{args.work_dir}/minhash_index" if args.near_dup else None
                ),
                near_dup_threshold=args.near_dup_threshold,
                quality_model_dir=args.quality_model,
                keep_pred=(
                    args.keep_pred.split(",") if args.keep_pred else None
                ),
                semantic_index_dir=(
                    f"{args.work_dir}/semantic_index"
                    if args.semantic_dedup else None
                ),
                semantic_threshold=args.semantic_threshold,
                encoder_model_dir=args.encoder_model,
                lm_model_dir=args.lm_model,
                max_xent=args.max_xent,
                url_dedup_col=args.url_dedup_col,
                url_bloom_state_dir=(
                    f"{args.work_dir}/url_bloom_state"
                    if args.url_bloom else None
                ),
                unicode_normalize=not args.no_unicode_normalize,
            )
            from .operators.manifest_sink import (
                DEFAULT_RETENTION_MINUTES,
                manifest_compact,
            )

            retention = (
                args.retention_minutes
                if args.retention_minutes is not None
                else DEFAULT_RETENTION_MINUTES
            )
            if args.compact_index and args.near_dup:
                from .operators.minhash_index import minhash_index_compact

                n_bands = minhash_index_compact(
                    spark, f"{args.work_dir}/minhash_index",
                    min_retention_minutes=retention,
                )
                print(f"compacted_bands={n_bands}")
            if args.compact_sink:
                n_rows = manifest_compact(
                    spark, sink, min_retention_minutes=retention,
                )
                print(f"compacted_rows={n_rows}")
            print(f"admitted_total={_admitted_total(spark, sink)} sink={sink}")
            return 0

        if args.command == "ingest-vectors":
            from .streaming.vectors import (
                VECTOR_DUP_THRESHOLD,
                run_streaming_vector_ingest,
            )

            sink = f"{args.work_dir}/admitted_vectors"
            run_streaming_vector_ingest(
                spark,
                args.corpus_parquet,
                args.feed_dir,
                sink,
                f"{args.work_dir}/checkpoint_vectors",
                f"{args.work_dir}/lsh_index",
                threshold=(
                    args.threshold if args.threshold is not None
                    else VECTOR_DUP_THRESHOLD
                ),
                max_files_per_trigger=args.max_files_per_trigger,
            )
            print(f"admitted_total={_admitted_total(spark, sink)} sink={sink}")
            return 0

        if args.command == "ingest-media":
            from .streaming.media import run_streaming_media_ingest
            from .streaming.vectors import VECTOR_DUP_THRESHOLD

            if args.encoder_model is None and args.modality is None:
                print("ingest-media needs --modality or --encoder-model",
                      file=sys.stderr)
                return 2
            enc = args.encoder_model
            if enc is None:
                enc = f"{args.work_dir}/media_encoder_{args.modality}"
                if args.modality == "image":
                    from .multimodal.imgembed import image_encoder_build

                    image_encoder_build(spark, enc)
                elif args.modality == "video":
                    from .multimodal.videoembed import video_encoder_build

                    video_encoder_build(spark, enc)
                else:
                    from .multimodal.audioembed import audio_encoder_build

                    audio_encoder_build(spark, enc)
            sink = f"{args.work_dir}/admitted_media"
            run_streaming_media_ingest(
                spark,
                args.corpus_parquet,
                args.feed_dir,
                sink,
                f"{args.work_dir}/checkpoint_media",
                f"{args.work_dir}/media_lsh_index",
                f"{args.work_dir}/media_vectors",
                enc,
                threshold=(
                    args.threshold if args.threshold is not None
                    else VECTOR_DUP_THRESHOLD
                ),
                max_files_per_trigger=args.max_files_per_trigger,
            )
            print(f"admitted_total={_admitted_total(spark, sink)} sink={sink}")
            return 0

        if args.command == "mix":
            from .operators.sampling import weighted_interleave

            sources = {}
            for spec in args.source:
                try:
                    # name first, weight from the right: a PATH may
                    # itself contain '=' (e.g. Hive-partitioned dirs
                    # like .../corpus/split=train)
                    name, rest = spec.split("=", 1)
                    path, weight = rest.rsplit("=", 1)
                    parsed = float(weight)
                except ValueError as exc:
                    raise ValueError(
                        f"--source must be NAME=PATH=WEIGHT, got {spec!r}"
                    ) from exc
                if name in sources:
                    raise ValueError(f"duplicate --source name {name!r}")
                sources[name] = (spark.read.parquet(path), parsed)
            mixed = weighted_interleave(sources, args.key_col)
            out = f"{args.work_dir}/mixture"
            mixed.write.mode("overwrite").partitionBy("source_name").parquet(out)
            counts = {
                r["source_name"]: r["count"]
                for r in spark.read.parquet(out)
                .groupBy("source_name").count().collect()
            }
            print(
                " ".join(f"{k}={counts.get(k, 0)}" for k in sources)
                + f" -> {out}"
            )
            return 0

        raise AssertionError(f"unknown command {args.command}")
    except Exception as exc:  # mirror main.py:389-394 exit discipline
        print(f"error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
