"""sf1.0 scale rehearsal (VERDICT r4 #4): run the headline and the
expensive dedup/media family at 10× the per-round bench scale on
local[32], so the "plans survive 100×" claim rests on a measured run,
not plan reading alone.

Inputs (all generated deterministically, cached under .cache/):
- 1B-point (idx, phash) table — the exact headline input shape
  (bench.py ensure_points at sf=1.0)
- 3M-image table with real PNG/JFIF bytes (bench.py ensure_images)
- 50k-document + 20k-embedding tables synthesized with the driver
  corpus's statistics (word-salad text ~300 words from the same vocab,
  64-dim float embeddings) so the dedup-family gate queries run
  unmodified against a `sf_dir`-shaped directory.

Usage:  python tools/sf1_rehearsal.py [--skip-images] [--skip-points]
Prints one JSON line; paste the table into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CACHE = os.path.join(REPO, ".cache")
SF1_DIR = os.path.join(CACHE, "sf1")
N_DOCS = 50_000
N_VECS = 20_000


def _timed(fn):
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 2)


def ensure_sf1_tables(spark) -> None:
    """Synthesize documents/embeddings at sf1.0 statistics into a
    directory register_tables() can consume.

    Corpus-density note (round-5 finding, BENCH.md): the driver corpus
    is word salad over a 31-word vocabulary.  Scaling THAT generator
    100× makes every document genuinely similar to every other
    (character-9-gram Jaccard between random docs ~5%), so the banded
    joins legitimately emit a quadratic candidate set — measured 48M
    minhash LSH candidates / 3.3M simhash pairs at 50k docs, whose
    verify joins then spill the disk away.  A realistic large-corpus
    dedup workload is mostly unique, so this generator draws words from
    an effectively unbounded token space (base-36 of a per-position
    splitmix64, cross-doc Jaccard ≈ 0) and PLANTS a 1% near-duplicate
    fraction (every 100th doc is the previous doc with ~3% of word
    slots edited) so the verify paths still do real work."""
    import numpy as np
    import pandas as pd

    from go_shapefile_spark.operators.geotag import splitmix64

    os.makedirs(SF1_DIR, exist_ok=True)
    doc_path = os.path.join(SF1_DIR, "documents.parquet")
    if not os.path.exists(doc_path):
        langs = ["en", "fr", "es", "de", "zh"]

        def words_of(i: int) -> np.ndarray:
            s = splitmix64(np.arange(1, dtype=np.int64) + np.int64(i) * 7)
            n_words = 44 + int(s[0]) % 534                    # 44..577
            stream = splitmix64(np.arange(n_words, dtype=np.int64)
                                + np.int64(i) * 1013)
            # 6-char base-36 tokens: ~2.2e9 distinct, so unrelated docs
            # share essentially no shingles (the realistic dedup shape)
            return np.array([np.base_repr(int(v) % 36**6, 36).lower()
                             for v in stream])

        def gen(batches):
            for pdf in batches:
                for a, b in zip(pdf["start"], pdf["end"]):
                    rows = []
                    for i in range(int(a), int(b)):
                        s = splitmix64(np.arange(3, dtype=np.int64)
                                       + np.int64(i) * 7)
                        if i % 100 == 99:                     # planted dup
                            # widen the dtype first: the base tokens are
                            # <U6 and numpy silently TRUNCATES longer
                            # assignments (r5 review — 'edit123' became
                            # 'edit12' for every doc)
                            w = words_of(i - 1).astype("<U12")
                            edits = splitmix64(
                                np.arange(max(1, len(w) // 33),
                                          dtype=np.int64) + np.int64(i))
                            w[edits % len(w)] = "edit" + str(int(i) % 997)
                        else:
                            w = words_of(i)
                        text = " ".join(w)
                        rows.append((i, text,
                                     langs[int(s[1]) % len(langs)],
                                     f"src{int(s[2]) % 20}", len(text)))
                    yield pd.DataFrame(rows, columns=[
                        "doc_id", "text", "lang", "source", "n_chars"])

        bounds = [(i, min(i + 2000, N_DOCS)) for i in range(0, N_DOCS, 2000)]
        (spark.createDataFrame(bounds, "start long, end long")
         .repartition(len(bounds), "start")
         .mapInPandas(gen, schema="doc_id long, text string, lang string, "
                                  "source string, n_chars long")
         .write.mode("overwrite").parquet(doc_path))
    vec_path = os.path.join(SF1_DIR, "embeddings.parquet")
    if not os.path.exists(vec_path):
        def genv(batches):
            for pdf in batches:
                for a, b in zip(pdf["start"], pdf["end"]):
                    idx = np.arange(int(a), int(b), dtype=np.int64)
                    raw = splitmix64(
                        (idx[:, None] * 64
                         + np.arange(64, dtype=np.int64)[None, :]).ravel())
                    # center on 0: all-positive components put every
                    # vector in one orthant (pairwise cosine ≈ 0.75 —
                    # everything becomes a "near-dup" of everything)
                    v = (raw.astype(np.float64) / 2**63 - 1.0) \
                        .reshape(-1, 64)
                    v /= np.linalg.norm(v, axis=1, keepdims=True)
                    yield pd.DataFrame({
                        "vec_id": idx,
                        "embedding": [r.astype(np.float32).tolist()
                                      for r in v],
                        "label": (idx % 10).astype(np.int32)})

        bounds = [(i, min(i + 2000, N_VECS)) for i in range(0, N_VECS, 2000)]
        (spark.createDataFrame(bounds, "start long, end long")
         .repartition(len(bounds), "start")
         .mapInPandas(genv, schema="vec_id long, embedding array<float>, "
                                   "label int")
         .write.mode("overwrite").parquet(vec_path))


def main() -> None:
    skip_images = "--skip-images" in sys.argv
    skip_points = "--skip-points" in sys.argv
    from bench import build_cover, ensure_images, ensure_points, headline_job
    from go_shapefile_spark.operators.pinning import PIN_STRATEGY_CONF
    from go_shapefile_spark.session import get_spark

    spark = get_spark(app_name="sf1-rehearsal", cores=32,
                      max_partition_bytes="64m")
    # The recorded rehearsal protocol runs on STORAGE pins (BENCH.md:
    # at 50k docs the executor-local checkpoint pin OOMs an 8 GiB JVM —
    # reproduced r5 — while the parquet scan-back completes); the
    # harness sets the strategy on its own session.
    spark.conf.set(PIN_STRATEGY_CONF, "storage")
    out: dict = {"sf": 1.0, "cores": 32}

    if not skip_points:
        t0 = time.monotonic()
        points_path, n_points = ensure_points(spark, 1.0, CACHE)
        out["points_generate_s"] = round(time.monotonic() - t0, 1)
        cover = build_cover(spark)
        rows = headline_job(spark, points_path, cover)     # warm
        best = min(_timed(lambda: headline_job(spark, points_path, cover))
                   for _ in range(2))
        out["headline_rows"] = rows
        out["headline_s"] = best
        out["headline_rows_per_s"] = round(rows / best, 0)

    ensure_sf1_tables(spark)
    import __spark_entry__ as entry
    qs = entry.queries()
    for name in ("dedup_minhash_lsh", "simhash_pairs",
                 "fingerprint_winnow_chunked", "embedding_neardup_bucketed",
                 "dedup_exact", "bpe_token_stats",
                 # r5: completes only with the NOT-IN stop filter + the
                 # template's MERGE hint (BENCH.md round-5 finding #3)
                 "fingerprint_overlap_pairs"):
        df = qs[name](spark, SF1_DIR)                      # warm plans
        df.write.format("noop").mode("overwrite").save()
        best, rows = None, None
        for _ in range(2):
            t0 = time.monotonic()
            df = qs[name](spark, SF1_DIR)
            rows = df.count()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[f"{name}_s"] = round(best, 2)
        out[f"{name}_rows"] = rows

    if not skip_images:
        t0 = time.monotonic()
        images_path, n_images = ensure_images(spark, 1.0, CACHE)
        out["images_generate_s"] = round(time.monotonic() - t0, 1)
        from go_shapefile_spark.sources.images import check_invariants
        from pyspark.sql import functions as F
        t0 = time.monotonic()
        bad = (check_invariants(spark.read.parquet(images_path))
               .where("NOT pixels_ok OR NOT caption_ok").count())
        out["images_invariant_s"] = round(time.monotonic() - t0, 1)
        out["images_n"] = n_images
        out["images_bad"] = bad

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
