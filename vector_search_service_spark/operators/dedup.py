"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its dedup story is limited to content-addressed
ids, ``src/core/document_processor.py:31-46`` — G2); these are the
standard corpus-dedup algorithms re-expressed as Spark plans. Scale
shapes:

- **exact**: hash → groupBy. One shuffle on a high-cardinality
  uniformly-distributed key (sha256) — the best-case shuffle; AQE
  coalesces post-shuffle partitions.
- **MinHash LSH**: one md5 per TOKEN → k-window Horner rolling
  shingle hashes (no shingle strings built; r4) → k integer
  permutations → band keys → explode → self-join per band bucket →
  Jaccard verify on the hashed shingle sets. The join is on band keys, whose fan-out is bounded
  by bucket size, not corpus size: at 100 TB you never compare all
  pairs, only within-bucket pairs. Hot buckets (boilerplate text) are
  the classic skew source — AQE skew-join splitting handles moderate
  skew; degenerate buckets should be capped upstream (drop buckets
  with > N members as "boilerplate").
- **SimHash**: per-doc fingerprint then bucketed equality join on the
  fingerprint.
- **n-gram Jaccard / embedding cosine**: exact pairwise verifiers —
  used on candidate pairs from a bucketing stage, never on the full
  cross product at scale.

Implementation note (measured, sf0.1): the hash pipeline is md5-heavy
array work; Spark's higher-order functions are CodegenFallback
(interpreted), which made the expression form ~10x slower than an
Arrow-batched pandas UDF computing the identical values. The hot
stages therefore run as pandas UDFs; ``functions/hashing.py`` keeps
the pure-expression mirrors (they define the oracle SQL, and
``tests/test_dedup_parity.py`` pins UDF == expression). Join shuffles
move only (id, band, key) — never text or shingle arrays.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import MINHASH_P, ROLL_C, _perm_coeffs, jaccard_col


def exact_dedup(df: DataFrame, *, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: keep the smallest id per sha256
    group (deterministic keep-first), report group size. Window over
    the hash = one shuffle; identical result to groupBy+min-join with
    one less exchange."""
    w = Window.partitionBy("content_sha")
    return (
        df.withColumn("content_sha", F.sha2(F.col(text_col), 256))
          .withColumn("n_copies", F.count("*").over(w).cast("long"))
          .withColumn("keeper_id", F.min(id_col).over(w))
          .withColumn("is_duplicate", F.col(id_col) != F.col("keeper_id"))
    )


DEFAULT_BANDS: tuple[tuple[int, ...], ...] = ((1, 2), (3, 4), (5, 6), (7, 8))
_SPLIT = re.compile("[^a-z0-9]+")


def _shingle_set(text: str, k: int = 3) -> set[str]:
    """Distinct word k-gram shingles — same contract as
    ``functions.hashing.shingles_col`` (short docs yield their full
    token string as a single shingle)."""
    w = [t for t in _SPLIT.split((text or "").lower()) if t]
    n = max(len(w) - (k - 1), 1)
    return {" ".join(w[i:i + k]) for i in range(n)}


def _batch_token_hash_arrays(texts, np) -> list:
    """Token-hash arrays for a whole Arrow batch at once: tokenize,
    ``pd.factorize`` the flat token stream (C-level), md5 ONCE per
    distinct token in the batch, then a vectorized gather back to
    per-occurrence hashes. The corpus vocabulary is far smaller than
    the token stream (stopwords repeat in every document), and md5()
    cost is per CALL, not per byte — this is where the rolling-hash
    contract's digest savings actually land (measured: the per-token
    Python loop was the band-keys hot spot, not the digest bytes)."""
    md5 = hashlib.md5
    tok_lists = [
        [t for t in _SPLIT.split((x or "").lower()) if t] for x in texts
    ]
    flat = [t for lst in tok_lists for t in lst]
    if not flat:
        return [np.empty(0, dtype=np.uint64) for _ in tok_lists]
    codes, uniques = pd.factorize(flat)
    uh = np.fromiter(
        (int.from_bytes(md5(u.encode()).digest()[:4], "big") for u in uniques),
        dtype=np.uint64,
        count=len(uniques),
    ) % np.uint64(1 << 31) % np.uint64(MINHASH_P)
    th_all = uh[codes]
    out, pos = [], 0
    for lst in tok_lists:
        out.append(th_all[pos:pos + len(lst)])
        pos += len(lst)
    return out


def _hashed_shingles_np(th, k: int, np):
    """Vectorized k-window Horner rolling hashes, mirror of
    ``functions.hashing.hashed_shingles_col`` — empty docs pin to the
    single shingle 0, short docs fold all their tokens (acc·C < 2^52:
    exact in uint64)."""
    C, P = np.uint64(ROLL_C), np.uint64(MINHASH_P)
    n = int(th.size)
    if n == 0:
        return np.zeros(1, dtype=np.uint64)
    if n < k:
        acc = np.uint64(0)
        for j in range(n):
            acc = (acc * C + th[j]) % P
        return np.array([acc], dtype=np.uint64)
    acc = th[: n - k + 1].copy()
    for j in range(1, k):
        acc = (acc * C + th[j : j + n - k + 1]) % P
    return acc


def band_keys_udf(bands: tuple[tuple[int, ...], ...] = DEFAULT_BANDS, k: int = 3):
    """Arrow-batched band keys: array of one md5-hex key per band,
    value-identical to the expression pipeline (token md5 low 31 bits
    → k-window Horner rolling shingle hash → (a·h+b) mod p minhash →
    md5 of the joined band values). r4 moved the digest work from one
    md5 per shingle STRING to one md5 per token (~k× fewer digest
    bytes, no join-the-words string building)."""
    import numpy as np

    coeffs = [[_perm_coeffs(s) for s in band] for band in bands]
    # all permutations as one (n_perms, 1) pair of coefficient columns:
    # the per-shingle permutation mins vectorize to a single broadcasted
    # (n_perms × n_shingles) modular affine map (measured 1.7x over the
    # Python loop on sf0.1 docs, bit-identical; a*h < 2^62 so uint64
    # arithmetic is exact)
    _A = np.array([a for band in coeffs for a, _ in band], dtype=np.uint64).reshape(-1, 1)
    _B = np.array([b for band in coeffs for _, b in band], dtype=np.uint64).reshape(-1, 1)
    _P = np.uint64(MINHASH_P)
    # per-band slice bounds into the flat permutation axis — bands may
    # have non-uniform widths, so never reshape to (n_bands, width)
    _edges = [0]
    for band in bands:
        _edges.append(_edges[-1] + len(band))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def keys(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5

        def one(th) -> list[str]:
            hs = np.unique(_hashed_shingles_np(th, k, np))
            mins = ((_A * hs[None, :] + _B) % _P).min(axis=1)
            return [
                md5("|".join(str(int(m)) for m in mins[lo:hi]).encode()).hexdigest()
                for lo, hi in zip(_edges, _edges[1:])
            ]

        return pd.Series(
            [one(th) for th in _batch_token_hash_arrays(texts, np)],
            index=texts.index,
        )

    return keys


def hashed_shingle_set_udf(k: int = 3):
    """Sorted distinct rolling shingle hashes per doc (the Jaccard
    verify representation: 8-byte ints instead of shingle strings)."""
    import numpy as np

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                np.unique(_hashed_shingles_np(th, k, np)).astype(np.int64).tolist()
                for th in _batch_token_hash_arrays(texts, np)
            ],
            index=texts.index,
        )

    return sh


def shingle_set_udf(k: int = 3):
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: sorted(_shingle_set(t, k)))
    return sh


def shingle_hashes64_udf(k: int = 3):
    """Arrow-batched POSITIONAL shingle hashes: one signed-64-bit
    md5-prefix per shingle occurrence, multiplicity and order
    preserved (unlike ``shingle_set_udf``). Tokenize + shingle + hash
    in one Python batch so no shingle string is ever materialized in
    the plan — the duplicated-span measurement shuffles 8-byte ids
    only. Hash identity is Spark-side only (the oracle groups raw
    shingle strings); 64 bits keeps corpus-scale collision odds
    ~1e-4 per billion distinct shingles."""
    import numpy as np

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sh(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5

        def one(text: str) -> list[int]:
            w = [t for t in _SPLIT.split((text or "").lower()) if t]
            n = max(len(w) - (k - 1), 1)
            # concatenated 8-byte digest prefixes → one frombuffer:
            # big-endian signed i8 matches int.from_bytes(..., "big",
            # signed=True) bit-for-bit, without a Python int per shingle
            buf = b"".join(
                md5(" ".join(w[i:i + k]).encode()).digest()[:8] for i in range(n)
            )
            return np.frombuffer(buf, dtype=">i8").tolist()

        return texts.map(one)

    # asNondeterministic: consumers explode/posexplode this column, and
    # the optimizer's pushed-down null/size filter otherwise re-plans a
    # SECOND ArrowEvalPython of the same call below the exchange —
    # every document tokenized+hashed twice (guide §4.4; observed in
    # the duplicate_ngram_spans sf0.1 plan, plans/r12/). Values are
    # pure; the marker only forbids duplicating the call.
    return sh.asNondeterministic()


def minhash_band_keys(df: DataFrame, *, text_col: str = "text",
                      bands: tuple[tuple[int, ...], ...] = DEFAULT_BANDS) -> DataFrame:
    """Per-document LSH band keys: (…, band, band_key). (The optimizer
    prunes unused child columns through the Generate on its own — an
    explicit pre-explode drop(text) was A/B-measured SLOWER at sf0.1,
    0.96s vs 0.71s, by forcing an extra projection stage.)"""
    return (
        df.select("*", F.posexplode(band_keys_udf(bands)(F.col(text_col))))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "band_key")
    )


DEFAULT_MAX_BUCKET = 500


def lsh_hot_buckets(keyed: DataFrame, *, max_bucket_size: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Degenerate LSH buckets: ``(band, band_key, n_members)`` for
    buckets over the cap. Within-bucket pair count is quadratic in
    bucket size, so one boilerplate key (license headers, templated
    pages) at 100 TB turns the band self-join into an n² explosion no
    amount of AQE skew-splitting can shrink. These keys are both the
    thing to exclude from the join AND a boilerplate-detection signal
    (cf. ``boilerplate_ngrams``). groupBy count is map-side combinable:
    the shuffle moves one row per distinct key, not per member."""
    return (
        keyed.groupBy("band", "band_key")
             .agg(F.count("*").alias("n_members"))
             .filter(F.col("n_members") > max_bucket_size)
    )


def minhash_lsh_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id",
                      bands: tuple[tuple[int, ...], ...] = DEFAULT_BANDS,
                      jaccard_threshold: float = 0.8,
                      max_bucket_size: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Candidate pairs that collide in ≥1 band, verified by shingle-set
    Jaccard ≥ threshold. Returns (id_a, id_b, jaccard), id_a < id_b,
    distinct. The band join shuffles ids only; shingles are computed
    only for candidate rows (semi-join first, UDF after).

    Candidate-set join strategy is AQE-owned, not hinted: the hot-bucket
    cap bounds pairs *per bucket*, but bucket count grows linearly with
    the corpus, so at 100 TB with realistic dup rates ``pairs`` (and the
    id sets derived from it) are billions of rows — a forced
    ``F.broadcast`` there OOMs driver and executors (same reasoning as
    the ``curate_corpus`` outer anti-join). The rows are 8–24 B each, so
    whenever they actually fit AQE picks broadcast at runtime anyway;
    the only hint kept is the hot-bucket set (provably tiny: ≤ one row
    per degenerate key).

    Buckets with more than ``max_bucket_size`` members are dropped
    before the self-join (hot-bucket cap): identical/boilerplate text
    at scale makes one band key quadratic, and exact-dup content is
    exact_dedup's job anyway. ``None`` disables the cap (tests only —
    never at scale)."""
    keyed = minhash_band_keys(
        df.select(id_col, text_col), text_col=text_col, bands=bands
    ).select(id_col, "band", "band_key")
    # materialize the band-key table once: a self-join re-aliases
    # attribute ids, so ReuseExchange can NOT dedupe the two sides —
    # without this the UDF subtree runs once per side (measured 2x).
    # localCheckpoint stores only (id, band, key) rows — tiny at any
    # scale relative to the corpus (this is also what you'd persist as
    # the index table in a real deployment).
    keyed = keyed.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        hot = lsh_hot_buckets(keyed, max_bucket_size=max_bucket_size)
        keyed = keyed.join(
            F.broadcast(hot.select("band", "band_key")),
            ["band", "band_key"], "left_anti",
        )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = (
        a.join(b, ["band", "band_key"])
         .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
         .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
         .distinct()
         .localCheckpoint(eager=False)  # consumed 3x below (2 semi-joins + final)
    )
    # verification: filter FIRST (semi-join on the candidate ids; AQE
    # broadcasts the id set when it fits — never forced, see docstring),
    # THEN compute shingles — the UDF touches only candidate rows, not
    # the corpus; the hashed-set representation (8-byte ints) keeps the
    # Jaccard intersect off strings entirely.
    # r13 (guide §2.4 shared subtree, the bm25 precedent): the two pair
    # sides used to shingle independently — TWO corpus scans and TWO
    # ArrowEvalPython passes, with any doc appearing on both sides
    # shingled twice. One pass over the UNION of candidate ids,
    # localCheckpointed (per-run, like ``keyed``/``pairs`` above —
    # never cross-run state), now feeds both joins: 1 corpus scan,
    # 1 UDF pass, strictly ≤ the old row count. Plan diff committed
    # (plans/r13/{curate_corpus,minhash_lsh_dedup}_{before,after}.txt):
    # the shingle pass moves behind the checkpoint boundary, so the
    # visible ArrowEvalPython nodes go from 4 to 0.
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    shingled = (
        df.join(cand_ids, id_col, "left_semi")
          .select(F.col(id_col),
                  hashed_shingle_set_udf()(F.col(text_col)).alias("sh"))
          .localCheckpoint(eager=False)
    )
    return (
        pairs
        .join(shingled.select(F.col(id_col).alias("id_a"),
                              F.col("sh").alias("sh_a")), "id_a")
        .join(shingled.select(F.col(id_col).alias("id_b"),
                              F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", jaccard_col(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(jaccard_threshold))
        .select("id_a", "id_b", "jaccard")
    )


def simhash16_udf():
    """16-bit SimHash, value-identical to
    ``functions.hashing.simhash16_col`` (hex-digit-parity votes over
    per-token md5 digests)."""
    @F.pandas_udf(T.IntegerType())
    def sim(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5

        def one(text: str) -> int:
            words = [t for t in _SPLIT.split((text or "").lower()) if t]
            bal = [0] * 16
            for t in words:
                d = md5(t.encode()).hexdigest()
                for j in range(16):
                    bal[j] += 1 if d[j] in "13579bdf" else -1
            return sum(1 << j for j in range(16) if bal[j] > 0)

        return texts.map(one)

    # §4.4 duplication guard (r12 sweep: the equality-join/filter over
    # the fingerprint column re-evaluated the UDF per side)
    return sim.asNondeterministic()


def simhash_fingerprints(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash16", simhash16_udf()(F.col(text_col)))


def ngram_jaccard_pairs(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact k-gram-shingle Jaccard over all pairs — the verifier
    stage; feed it candidate pairs (LSH buckets) at scale, not a cross
    join."""
    # deliberately NOT cached: measured (local[32], sf0.01) the double
    # UDF run costs ~1s while InMemoryTableScan under the nested-loop
    # join costs ~8s — recompute wins
    from ..sources.tables import parallelize_scan

    sh = df.select(F.col(id_col), shingle_set_udf(k)(F.col(text_col)).alias("sh"))
    # the nested-loop pair join streams the left side: spread it across
    # cores (the single-file testdata otherwise yields ONE task doing
    # all |a|·|b|/2 jaccard evaluations); parallelize_scan is a no-op
    # when the scan already has >= cluster-parallelism input splits
    a = parallelize_scan(
        sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
        df.sparkSession,
    )
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
         .withColumn("jaccard", jaccard_col(F.col("sh_a"), F.col("sh_b")))
         .filter(F.col("jaccard") >= F.lit(threshold))
         .select("id_a", "id_b", "jaccard")
    )
