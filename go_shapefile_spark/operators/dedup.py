"""Deduplication operators for large-scale training-data pipelines.

Each operator is defined as SQL algebra generated for two dialects —
Spark SQL (the engine) and DuckDB (the correctness oracle) — from the
shared builders in ``functions/hashes.py``, so the oracle checks the
*identical* arithmetic.  Everything is JVM-side relational algebra in
Spark (shuffles on hash/band keys, map-side combine); no Python UDFs.

Scale notes (100 TB): shingling multiplies rows by ~text length, but the
shingle stream is immediately hash-grouped per doc (map-side combine
collapses it); band join keys are uniformly distributed md5-derived ints
→ no skew; candidate verification joins only touch LSH-bucketed pairs.
"""

from __future__ import annotations

from ..functions import hashes as H


def exact_dedup_sql(dialect: str, rel: str = "documents") -> str:
    """Exact duplicate groups by content hash."""
    return f"""
SELECT MD5(text) AS text_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_doc_id
FROM {rel}
GROUP BY MD5(text)
"""


def shingle_cte(dialect: str, rel: str, k: int) -> str:
    """Distinct hashed k-char shingles per doc."""
    return f"""
positions AS (
  SELECT doc_id, text, {H.seq_1_to(f"GREATEST(1, LENGTH(text) - {k - 1})", dialect)} AS pos
  FROM {rel}
),
shingles AS (
  SELECT DISTINCT doc_id, {H.h32(f"SUBSTRING(text, pos, {k})", dialect)} AS x
  FROM positions
)"""


def stop_shingle_filter_cte(rel: str, max_doc_freq: float,
                            features: str, col: str, out: str) -> str:
    """CTE pair dropping features (shingles / fingerprints) present in
    more than ``max_doc_freq`` of ``rel``'s rows.

    The cutoff is ``FLOOR(CAST(frac AS DOUBLE) * COUNT(*))``: FLOOR has
    identical semantics in Spark and DuckDB, whereas a bare
    ``CAST(0.5 * count AS BIGINT)`` TRUNCATES in Spark but ROUNDS in
    DuckDB (r5 review — verified: 0.5·61 casts to 30 vs 31), so the
    same template would silently filter different sets on corpora where
    the product is fractional.

    The filter is phrased as NOT IN the DROPPED set, not a join against
    the kept set: on a realistic corpus almost every feature survives
    (the kept relation is ~the full distinct-feature table — Spark
    mis-estimates the aggregate's size and tries to broadcast it, which
    OOM'd the 50k-doc rehearsal), while the dropped boilerplate set is
    tiny and broadcasts correctly.  ``{col}`` is a computed hash, never
    NULL, so NOT IN has plain anti-join semantics in both engines."""
    return f"""dropped_{out} AS (
  SELECT {col} FROM {features} GROUP BY {col}
  HAVING COUNT(*) > CAST(FLOOR(CAST({max_doc_freq!r} AS DOUBLE) *
                         (SELECT COUNT(*) FROM {rel})) AS BIGINT)
),
{out} AS (
  SELECT f.doc_id, f.{col} FROM {features} f
  WHERE f.{col} NOT IN (SELECT {col} FROM dropped_{out})
)"""


def minhash_lsh_sql(dialect: str, rel: str = "documents", k: int = 9,
                    num_hashes: int = 8, bands: int = 4,
                    threshold: float = 0.5,
                    max_doc_freq: float | None = None) -> str:
    """MinHash+LSH near-dup pairs, verified with exact shingle Jaccard.

    shingle→minhash→band→bucket-join→verify: output is (doc_a, doc_b,
    jaccard) for LSH-candidate pairs whose exact Jaccard ≥ threshold.

    ``max_doc_freq`` enables STOP-SHINGLE filtering: shingles appearing
    in more than that fraction of documents are dropped before the
    signature (and before the verify — the reported Jaccard is then
    over the informative shingles only; a documented semantics change,
    like a stop-word list in text retrieval).  This is the standard
    mitigation for low-entropy corpora (r5 scale rehearsal, BENCH.md):
    on boilerplate-heavy text, globally-common shingles dominate every
    document's minima, the band buckets merge, and candidates grow
    quadratically — measured 48M candidate pairs from 50k word-salad
    docs, whose verify join spilled the disk away.  With the filter the
    same corpus emits candidates proportional to true near-dups.
    """
    rows_per_band = num_hashes // bands
    band_selects = []
    for b in range(bands):
        cols = ", ".join(f"m{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band))
        band_selects.append(
            f"SELECT doc_id, n, {b} AS band, CONCAT_WS('_', {cols}) AS bkey FROM mh")
    bands_sql = "\nUNION ALL\n".join(band_selects)
    if max_doc_freq is not None:
        stop = f""",
{stop_shingle_filter_cte(rel, max_doc_freq, "shingles", "x",
                         "shingles_kept")}"""
        verify_rel = "shingles_kept"
    else:
        stop = ""
        verify_rel = "shingles"
    # signature aggregation (dialect-free integer arithmetic); the Spark
    # runner pins ``mh``, which the bands reference once each
    mins = ",\n  ".join(
        f"{H.minhash_expr('x', j, num_hashes)} AS m{j}"
        for j in range(num_hashes))
    if dialect == H.SPARK:
        # Spark-only verify spelling (the oracle text must stay stable,
        # so DuckDB keeps the plain joins): semi-filter each shingle
        # side to candidate documents BEFORE the join — the exact-
        # Jaccard verify only ever touches docs that appear in a
        # candidate pair, so the shuffle carries the candidates'
        # shingles instead of the whole corpus relation; BROADCAST(c)
        # pins the small build side (left-deep build-right planning
        # was broadcasting the FULL shingle relation twice, ~64 MB
        # built per run at sf0.1) and the residual shingle joins stay
        # shuffle-hash (the fingerprint_overlap scale posture).  The
        # gate runner pins ``cand`` so its three references here read
        # one materialization.
        inter_body = f"""  SELECT /*+ BROADCAST(c), SHUFFLE_HASH(sa, sb) */
         c.doc_a, c.doc_b, MIN(c.na) AS na, MIN(c.nb) AS nb, COUNT(*) AS i
  FROM cand c
  JOIN (SELECT doc_id, x FROM {verify_rel}
        WHERE doc_id IN (SELECT doc_a FROM cand)) sa
    ON sa.doc_id = c.doc_a
  JOIN (SELECT doc_id, x FROM {verify_rel}
        WHERE doc_id IN (SELECT doc_b FROM cand)) sb
    ON sb.doc_id = c.doc_b AND sb.x = sa.x
  GROUP BY c.doc_a, c.doc_b"""
    else:
        inter_body = f"""  SELECT c.doc_a, c.doc_b, MIN(c.na) AS na, MIN(c.nb) AS nb, COUNT(*) AS i
  FROM cand c
  JOIN {verify_rel} sa ON sa.doc_id = c.doc_a
  JOIN {verify_rel} sb ON sb.doc_id = c.doc_b AND sb.x = sa.x
  GROUP BY c.doc_a, c.doc_b"""
    return f"""
WITH {shingle_cte(dialect, rel, k)}{stop},
mh AS (
SELECT doc_id, COUNT(*) AS n,
  {mins}
FROM {verify_rel} GROUP BY doc_id
),
band_keys AS (
{bands_sql}
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         MIN(a.n) AS na, MIN(b.n) AS nb
  FROM band_keys a JOIN band_keys b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
inter AS (
{inter_body}
)
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
FROM inter
WHERE CAST(i AS DOUBLE) / (na + nb - i) >= {threshold}
"""


SIMHASH_BITS = 60       # widest width that stays signed-int64-safe under
                        # Spark ANSI mode (bit 63 literals would overflow);
                        # reference point: 64-bit SimHash, top 4 bits zero
SIMHASH_BUCKET_CAP = 200


def simhash_sql(dialect: str, rel: str = "documents",
                bits: int = SIMHASH_BITS) -> str:
    """Per-doc SimHash signature over md5-hashed tokens (bitwise majority).

    Token hashes come from the first 15 md5 hex chars (60 bits), so every
    signature bit is an independent hash bit in both engines."""
    sums = ",\n  ".join(
        f"SUM(CASE WHEN (h & {1 << j}) > 0 THEN 1 ELSE 0 END) AS s{j}"
        for j in range(bits))
    recompose = " + ".join(
        f"(CASE WHEN 2 * s{j} > n THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
WITH tokens AS (
  SELECT doc_id, {H.split_tokens("text", dialect)} AS tok FROM {rel}
),
toks AS (
  SELECT doc_id, {H.h60("tok", dialect)} AS h FROM tokens WHERE tok <> ''
),
agg AS (
  SELECT doc_id, COUNT(*) AS n,
  {sums}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM agg
"""


def simhash_pairs_sql(dialect: str, rel: str = "documents",
                      bits: int = SIMHASH_BITS, bands: int = 4,
                      max_hamming: int = 11,
                      max_bucket: int = SIMHASH_BUCKET_CAP) -> str:
    """Near-dup pairs by SimHash: band-equality candidates, Hamming verify.

    ``max_bucket`` caps candidate fan-out per (band, bucket): a bucket of
    identical signatures (boilerplate/empty docs) would otherwise emit
    O(bucket²) pairs — at 100 TB a single hot bucket can dominate the
    whole shuffle.  The cap keeps the ``max_bucket`` smallest doc_ids per
    bucket (deterministic in both engines).  This is a documented
    approximation: a doc past the cap in one band usually pairs through
    its other bands, but two docs with IDENTICAL signatures rank past the
    cap in EVERY band together, so pairs among >max_bucket same-signature
    docs are not recoverable here — by design, because same-signature
    floods are boilerplate and exact duplicates are the exact-dedup
    operator's job, not this one's.
    """
    band_bits = bits // bands
    sig = simhash_sql(dialect, rel, bits).strip()
    band_selects = []
    for b in range(bands):
        mask = ((1 << band_bits) - 1) << (b * band_bits)
        band_selects.append(
            f"SELECT doc_id, simhash, {b} AS band, (simhash & {mask}) AS bkey FROM sig")
    bands_sql = "\nUNION ALL\n".join(band_selects)
    xor = H.xor("a.simhash", "b.simhash", dialect)
    return f"""
WITH sig AS ({sig}),
band_keys AS (
{bands_sql}
),
capped AS (
  SELECT doc_id, simhash, band, bkey
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY band, bkey
                                     ORDER BY doc_id) AS rnk
        FROM band_keys)
  WHERE rnk <= {max_bucket}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         {H.bit_count(xor, dialect)} AS hamming
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM cand WHERE hamming <= {max_hamming}
"""


def ngram_jaccard_sql(dialect: str, rel: str = "documents", k: int = 9,
                      modulus: int = 17, threshold: float = 0.03) -> str:
    """Exact all-pairs n-gram Jaccard on a deterministic doc subset
    (doc_id % modulus = 0) — **the ground-truth BASELINE companion to
    MinHash-LSH, oracle/test use only** (VERDICT r5 #6): the shingle
    self-join is quadratic in the subset size by design, and the
    ``modulus`` cap is what keeps the gate bounded.  The production
    near-dup path is ``minhash_lsh_sql`` (banded LSH bucket join)."""
    return f"""
WITH sub AS (
  SELECT doc_id, text FROM {rel} WHERE doc_id % {modulus} = 0
),
{shingle_cte(dialect, "sub", k)},
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS i
  FROM shingles sa JOIN shingles sb
    ON sb.x = sa.x AND sa.doc_id < sb.doc_id
  GROUP BY sa.doc_id, sb.doc_id
)
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= {threshold}
"""
