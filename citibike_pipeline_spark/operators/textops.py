"""Training-data text operators over the `documents` table.

The large-scale training-pipeline surface: exact + near dedup (MinHash-LSH,
SimHash, n-gram Jaccard, fingerprinting), language-ID, quality scoring,
token statistics. Everything is expressed with built-in collection functions
(transform/filter/aggregate over arrays) — JVM-side, shuffle-efficient — and
each query has a DuckDB oracle computing the identical deterministic
algorithm, so the correctness gate covers these like any relational operator.

Hash-parity note: cross-engine comparable hashes use md5 hex strings
(identical in Spark and DuckDB); engine-internal hashes (LSH bucketing at
scale) would use xxhash64 instead — same structure, cheaper.

Scale notes: the shingle-explode joins below are the textbook LSH layout —
explode to (band_key, doc) rows, shuffle on band_key, pair within buckets.
At 100 TB the same plan holds because bucket sizes are bounded by band width,
not corpus size; the quadratic step only happens within buckets.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import T, spread, spread_ranged
from .resources import scoped_persist, scratch_dir
from .sizing import GATE_N_DOCS, auto_minhash_bands, auto_simhash_bits

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
LANGS = ["en", "fr", "es", "de", "zh"]

# Banded MinHash-LSH parameters (b bands × r rows = b*r hash functions).
# Candidate recall for a pair with Jaccard similarity s is
#     P(candidate) = 1 - (1 - s^r)^b
# — the standard S-curve (Leskovec/Rajaraman/Ullman, MMDS ch.3). With
# b=4, r=2: s=0.9 → 0.9987, s=0.5 → 0.68, s=0.2 → 0.15, so true
# near-dups are almost always candidates while dissimilar pairs rarely
# collide. These constants are the GATE-CORPUS ANCHORS (sf0.01, 500 docs):
# the operators auto-size from the corpus they actually see (sizing.py) and
# resolve to exactly these values at the gate corpus, which is what keeps
# the static DuckDB oracles hash-green; explicit args still override.
MINHASH_B, MINHASH_R = auto_minhash_bands(GATE_N_DOCS)   # (4, 2)

# SimHash width in bits (2^bits buckets); gate-corpus anchor = 8. Auto-sizes
# to ~log2(n_docs) at other corpora (capped 32 — bit j is an md5 nibble; a
# 64-bit variant swaps in xxhash64).
SIMHASH_BITS = auto_simhash_bits(GATE_N_DOCS)            # 8


def _words(col="text"):
    return F.split(F.col(col), " ")


def _word_bigrams(col="text"):
    """Word 2-gram shingles, O(words): zip the word array with its own
    1-shifted tail and join pairs. The index-transform alternative
    (element_at(split(text), i) per index) is a trap — Catalyst inlines the
    split into every element_at, going O(words²) per evaluation (measured
    ~10x on d05's signature stage). Semantics preserved exactly, incl. the
    1-word edge case: zip pads the tail with NULL, concat_ws skips NULLs,
    and the outer slice keeps GREATEST(n-1, 1) elements."""
    w = _words(col)
    n_sh = F.greatest(F.size(w) - 1, F.lit(1))
    zipped = F.zip_with(
        w, F.slice(w, 2, n_sh), lambda a, b: F.concat_ws(" ", a, b)
    )
    return F.slice(zipped, 1, n_sh)


# --------------------------------------------------------------------------
# d01: exact dedup — hash-groupBy (the content-hash analog of A6 dup flags)
# --------------------------------------------------------------------------

def d01_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
    )


D01_SQL = """
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique_texts,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# d02: token statistics + quality score (length/stopword features)
# --------------------------------------------------------------------------

def d02_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    # spread: split + two regex extractions + array folds per row
    docs = spread(T(spark, sf, "documents"))
    w = _words()
    n_tokens = F.size(w)
    n_stop = F.size(F.filter(w, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = F.round(n_stop.cast("double") / n_tokens, 6)
    quality = F.round(
        F.least(n_tokens.cast("double") / 80.0, F.lit(1.0)) * 0.5
        + (F.lit(1.0) - n_stop.cast("double") / n_tokens) * 0.5,
        6,
    )
    # BPE-ish subword proxy: letter runs, digit runs, and single punctuation
    # marks each count as a token (the pre-tokenization regex most BPE
    # vocabularies apply before merges). Identical Java/DuckDB regex subset.
    bpe_tokens = F.size(
        F.expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        bpe_tokens.alias("n_bpe_tokens"),
        F.size(F.array_distinct(w)).alias("n_unique_tokens"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


D02_SQL = """
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
       len(list_filter(string_split(text, ' '),
           t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stopwords,
       ROUND(CAST(len(list_filter(string_split(text, ' '),
           t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
           / len(string_split(text, ' ')), 6) AS stopword_ratio,
       ROUND(LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 80.0, 1.0) * 0.5
             + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
                 / len(string_split(text, ' '))) * 0.5, 6) AS quality_score
FROM documents
"""


# --------------------------------------------------------------------------
# d03: language-ID — deterministic n-gram/stopword-scoring heuristic.
# Scores each candidate language by hashed token affinity and reports
# agreement with the labeled lang column per (label, prediction) cell.
# --------------------------------------------------------------------------

def _langid_pred_udf():
    """Per-doc predicted language in one vectorized pass, BIT-IDENTICAL to
    the explode + vocabulary-join + per-lang-sum pipeline: score(lang) =
    # token OCCURRENCES whose md5(lang||token) first hex nibble < 4 (the
    '< "4"' single-hex-char test == digest[0] >> 4 < 4 — hex chars order
    like their nibble values there), argmax over scores with first-in-LANGS
    tie order (np.argmax returns the first maximum over LANGS-ordered
    columns — the same when()-chain order). Distinct tokens hash their 5
    lang bits once per task (the d04/d05/d06 vocabulary-cache idiom);
    per-doc sums are one np.add.reduceat over the batch — no 12.5M-row
    explode, no vocabulary shuffle/broadcast (the vocabulary IS the
    per-task cache), no 5-sum aggregate exchange."""
    langs = list(LANGS)

    @F.pandas_udf("string")
    def pred(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib

        md5 = hashlib.md5
        enc = [l.encode() for l in langs]
        cache: dict = {}
        rows: list = []
        for batch in it:
            out = []
            idx_all: list = []
            lens: list = []
            docpos: list = []
            for i, t in enumerate(batch):
                if t is None:
                    out.append(None)
                    continue
                toks = t.split(" ")
                lens.append(len(toks))
                docpos.append(i)
                out.append("")  # placeholder, filled below
                cg = cache.get
                ap = idx_all.append
                for w in toks:
                    v = cg(w)
                    if v is None:
                        wb = w.encode()
                        v = cache[w] = len(rows)
                        rows.append(
                            [
                                1 if md5(p + wb).digest()[0] < 0x40 else 0
                                for p in enc
                            ]
                        )
                    ap(v)
            if idx_all:
                V = np.asarray(rows, dtype=np.int64)
                S = V[np.asarray(idx_all, dtype=np.int64)]
                lens_a = np.asarray(lens, dtype=np.int64)
                offsets = np.zeros(len(lens_a), dtype=np.int64)
                np.cumsum(lens_a[:-1], out=offsets[1:])
                sums = np.add.reduceat(S, offsets, axis=0)
                picks = np.argmax(sums, axis=1)
                for p, i in zip(picks, docpos):
                    out[i] = langs[p]
            yield pd.Series(out, dtype="object")

    return pred


def d03_langid(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread_ranged(T(spark, sf, "documents"), "doc_id")
    # docs with null text have no token rows in the explode form and thus
    # no scored row — the filter reproduces exactly that drop
    scored = docs.filter(F.col("text").isNotNull()).select(
        "lang", _langid_pred_udf()("text").alias("pred_lang")
    )
    return scored.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


def _langid_sql() -> str:
    score = (
        "len(list_filter(string_split(text,' '), t -> md5('{l}' || t)[1:1] < '4'))"
    )
    scores = ", ".join(score.format(l=l) + f" AS score_{l}" for l in LANGS)
    best = "GREATEST(" + ", ".join(f"score_{l}" for l in LANGS) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in LANGS
    ) + " END"
    return f"""
WITH scored AS (SELECT doc_id, lang, {scores} FROM documents)
SELECT lang, {case} AS pred_lang, COUNT(*) AS n
FROM scored GROUP BY 1, 2
"""


D03_SQL = _langid_sql()


# --------------------------------------------------------------------------
# d04: document fingerprint — min-hash of character 8-gram shingles
# (winnowing-style); fingerprint collisions = near-dup candidates
# --------------------------------------------------------------------------

def _char8_minhash_udf():
    """min over character-8-gram positions of md5(gram), BIT-IDENTICAL to
    array_min(transform(shingles, md5)): python bytes compare lexicographic
    == hex-string compare (hex is order-isomorphic to digest bytes), slicing
    and Spark substring are both character-based, and md5 hashes the UTF-8
    bytes either way. Shingle grid matches sequence(1, greatest(len-7, 1)):
    full-width grams for len >= 8, the whole (short) text otherwise, md5("")
    for empty. Distinct grams hash once per task (the d05 vocabulary-cache
    idiom, guide §4.5) — duplicate grams can't change a min — which is the
    point: the JVM form re-hashed every position of every doc (~75M md5s at
    sf1.0); here repeated boilerplate 8-grams cost one dict probe."""

    @F.pandas_udf("string")
    def fp(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib

        md5 = hashlib.md5
        cache: dict = {}
        for batch in it:
            out = []
            for t in batch:
                if t is None:
                    out.append(None)
                    continue
                n = len(t)
                grams = (t[i : i + 8] for i in range(n - 7)) if n >= 8 else (t,)
                best = None
                cg = cache.get
                for g in grams:
                    d = cg(g)
                    if d is None:
                        d = cache[g] = md5(g.encode()).digest()
                    if best is None or d < best:
                        best = d
                out.append(best.hex())
            yield pd.Series(out, dtype="object")

    return fp


def d04_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    # spread: ~1500 grams per doc of per-row compute — the single-file
    # single-row-group scan otherwise runs the whole hash pass on one task;
    # RANGED so content-adjacent docs share one task's gram cache
    docs = spread_ranged(T(spark, sf, "documents"), "doc_id")
    fps = docs.select("doc_id", _char8_minhash_udf()("text").alias("fingerprint"))
    return fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    ).filter(F.col("n_docs") >= 1)


D04_SQL = """
WITH fps AS (
  SELECT doc_id,
         list_min(list_transform(generate_series(1, GREATEST(length(text) - 7, 1)),
                  i -> md5(text[i:i+7]))) AS fingerprint
  FROM documents
)
SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM fps GROUP BY fingerprint HAVING COUNT(*) >= 1
"""


# --------------------------------------------------------------------------
# d05: banded MinHash-LSH near-dup candidate pairs.
# signature slot k = min over word-2gram shingles of md5(k || '|' || shingle);
# band i's key = md5 of slots [i*r, (i+1)*r); candidates = pairs sharing >= 1
# band key (the standard b×r AND-OR construction — see the recall S-curve in
# the module constants).
# --------------------------------------------------------------------------

def _minhash_sig_udf(k: int):
    """Per-doc MinHash signature (k md5-hex mins over the shingle array),
    BIT-IDENTICAL to min(md5(f"{s}|" || g)) per slot: hashlib.md5 == Spark
    md5; the min over hex strings is computed on the raw digest as a
    (hi, lo) uint64 pair — hex encoding is order-isomorphic to digest
    bytes, so the numpy (hi, then lo among hi-ties) min IS the
    lexicographic hex min — and the winning digests are re-hexed with
    bytes.hex() (lowercase, same as Spark/DuckDB md5 output). Distinct
    shingles hash once per task (iterator form, guide §4.5); duplicate
    shingles can't change a min. A null shingle array (null text) yields a
    null signature row whose band keys are null and never join — the same
    zero pairs the explode form produced by dropping the doc."""
    u64max = np.uint64(0xFFFFFFFFFFFFFFFF)

    @F.pandas_udf("array<string>")
    def sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib

        md5 = hashlib.md5
        # byte prefixes b"0|", b"1|", ... once per task: md5(prefix + g
        # bytes) is byte-identical input to md5(f"{s}|{g}".encode()), but
        # skips k string formats and k-1 re-encodes per distinct shingle
        # (the formatting was ~40% of the hash loop)
        prefixes = [b"%d|" % s for s in range(k)]
        vocab: dict = {}
        hrows: list = []
        lrows: list = []
        for batch in it:
            out = []
            for gs in batch:
                if gs is None:
                    out.append(None)
                    continue
                idx = []
                ap = idx.append
                vg = vocab.get
                for g in gs:
                    i = vg(g)
                    if i is None:
                        i = vocab[g] = len(vocab)
                        ge = g.encode()
                        dig = np.frombuffer(
                            b"".join(md5(p + ge).digest() for p in prefixes),
                            dtype=">u8",
                        ).reshape(k, 2)
                        hrows.append(dig[:, 0])
                        lrows.append(dig[:, 1])
                    ap(i)
                hh = np.stack([hrows[i] for i in idx])
                ll = np.stack([lrows[i] for i in idx])
                hmin = hh.min(axis=0)
                lmin = np.where(hh == hmin[None, :], ll, u64max).min(axis=0)
                hx = np.stack([hmin, lmin], axis=1).astype(">u8").tobytes().hex()
                out.append([hx[j * 32:(j + 1) * 32] for j in range(k)])
            yield pd.Series(out)

    return sig


def d05_minhash_lsh_pairs(
    spark: SparkSession, sf: str, b: int | None = None, r: int | None = None
) -> DataFrame:
    docs = T(spark, sf, "documents")
    if b is None or r is None:
        # auto-size from the corpus actually scanned (sizing.py; one cheap
        # count — at warehouse scale this comes from table stats). Resolves
        # to the (4, 2) anchors at the sf0.01 gate corpus. Count BEFORE
        # spreading so the sizing job doesn't pay the repartition exchange.
        ab, ar = auto_minhash_bands(docs.count())
        b = ab if b is None else b
        r = ar if r is None else r
    docs = spread_ranged(docs, "doc_id")
    k = b * r
    # stage 1: per-doc signatures in ONE vectorized pass (guide §4.2). All
    # k signature hashes md5(s|g) are functions of the shingle alone, so
    # the UDF caches each distinct shingle's k digests per task and takes
    # the per-slot mins with numpy — the round-5 inline form recomputed
    # corpus x shingles x k digests (165M md5s at sf1.0, measured 78 s on
    # the single-split scan task; a vocabulary-broadcast join variant
    # materialized k hash strings per occurrence row, ~5.5 GB of
    # projection, and was 6x slower than this). On a corpus with little
    # shingle repetition the cache degrades gracefully to the inline cost,
    # per task, with bounded (task-local-vocab) memory.
    # scoped_persist: the LSH self-join probes the signature table twice,
    # and at scale you persist signatures anyway (they're the dedup
    # index); released by the harness (operators/resources.py).
    sigs = scoped_persist(
        docs.select("doc_id", _minhash_sig_udf(k)(_word_bigrams()).alias("sig"))
    )
    # AND within a band: the band key hashes r consecutive slots together
    def band_key(i: int):
        return F.md5(
            F.concat_ws(
                "|", *[F.element_at("sig", i * r + j + 1) for j in range(r)]
            )
        )

    # explode to (band, key, doc) and pair within buckets — the LSH shuffle
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), band_key(i).alias("val"))
                for i in range(b)
            ])
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    lhs, rhs = bands.alias("a"), bands.alias("b")
    pairs = (
        lhs.join(
            rhs,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # OR across bands: >=1 shared band makes a candidate; the groupBy
        # dedups pairs colliding in several bands
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return pairs


def _minhash_pairs_cte(
    b: int = MINHASH_B, r: int = MINHASH_R, materialized: bool = False
) -> str:
    """CTE body producing `pairs(doc_a, doc_b, n_shared_bands)` — shared by
    the d05 oracle and the d08 clustering oracle. ``materialized`` forces
    DuckDB to evaluate each CTE once — required when a consumer references
    them from an unrolled iteration (inlining re-runs the minhash pipeline
    per round: measured 216 s -> 0.5 s)."""
    k = b * r
    shingles = (
        "list_transform(generate_series(1, GREATEST(len(string_split(text,' '))-1,1)), "
        "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])"
    )
    sig = ", ".join(
        f"list_min(list_transform({shingles}, g -> md5('{s}|' || g))) AS mh{s}"
        for s in range(k)
    )
    def band_key(i):
        return "md5(" + " || '|' || ".join(f"mh{i * r + j}" for j in range(r)) + ")"

    unions = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, {band_key(i)} AS val FROM sigs" for i in range(b)
    )
    m = "MATERIALIZED " if materialized else ""
    return f"""sigs AS {m}(SELECT doc_id, {sig} FROM documents),
bands AS {m}({unions}),
pairs AS {m}(
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _d05_sql(b: int = MINHASH_B, r: int = MINHASH_R) -> str:
    return f"""
WITH {_minhash_pairs_cte(b, r)}
SELECT doc_a, doc_b, n_shared_bands FROM pairs
"""


D05_SQL = _d05_sql()


# --------------------------------------------------------------------------
# d06: SimHash near-dup buckets — per-bit majority vote over token hashes;
# expressed as one aggregate per bit (all JVM-side). Width auto-sizes to
# ~log2(n_docs) (2^bits buckets, sizing.py), capped at md5's 32 nibbles; a
# 64-bit corpus-scale variant swaps the bit source to xxhash64.
# --------------------------------------------------------------------------

def _simhash_udf(bits: int):
    """Per-doc SimHash in ONE vectorized pass, BIT-IDENTICAL to the
    explode + vocabulary-join + per-bit-sum pipeline for widths <= 32:
    token split is str.split(" ") (== Spark split on the single-space
    regex, trailing/consecutive empties included), bit j of a token is the
    high bit of md5 hex nibble j+1 (byte j>>1, high nibble for even j —
    exactly the substring(h, j+1, 1) IN ('8'..'f') test), the per-doc
    per-bit majority sums every OCCURRENCE (duplicates count), and null
    text contributes -1 per bit (simhash 0) like the explode_outer +
    coalesce(-1) row did. Distinct tokens hash once per task (the d04/d05
    vocabulary-cache idiom); per-doc sums are one np.add.reduceat over the
    batch — no 12.5M-row explode, no vocabulary shuffle/broadcast, no
    bits-wide aggregate (measured ~3.8 s -> ~1 s at sf1.0)."""
    powers = np.left_shift(np.int64(1), np.arange(bits, dtype=np.int64))

    @F.pandas_udf("long")
    def sh(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib

        md5 = hashlib.md5
        cache: dict = {}
        rows: list = []
        jj = range(bits)
        for batch in it:
            out = np.zeros(len(batch), dtype=np.int64)
            idx_all: list = []
            lens = np.zeros(len(batch), dtype=np.int64)
            nonnull = np.ones(len(batch), dtype=bool)
            for i, t in enumerate(batch):
                if t is None:
                    nonnull[i] = False
                    continue
                toks = t.split(" ")
                lens[i] = len(toks)
                cg = cache.get
                ap = idx_all.append
                for w in toks:
                    v = cg(w)
                    if v is None:
                        d = md5(w.encode()).digest()
                        v = cache[w] = len(rows)
                        rows.append(
                            [
                                1
                                if (d[j >> 1] >> (0 if j & 1 else 4)) & 8
                                else -1
                                for j in jj
                            ]
                        )
                    ap(v)
            if idx_all:
                V = np.asarray(rows, dtype=np.int64)
                S = V[np.asarray(idx_all, dtype=np.int64)]
                nz = lens[nonnull]
                offsets = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(nz[:-1], out=offsets[1:])
                sums = np.add.reduceat(S, offsets, axis=0)
                out[nonnull] = ((sums > 0) * powers).sum(axis=1)
            yield pd.Series(out)

    return sh


def d06_simhash(spark: SparkSession, sf: str, bits: int | None = None) -> DataFrame:
    docs = T(spark, sf, "documents")
    if bits is None:
        bits = auto_simhash_bits(docs.count())  # 8 at the gate corpus
    docs = spread_ranged(docs, "doc_id")
    if bits <= 32:
        hashed = docs.select(
            "doc_id", _simhash_udf(bits)("text").alias("simhash")
        )
        return hashed.groupBy("simhash").agg(
            F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
        )
    # Widths ≤32 took the UDF path above (md5 bits, which the DuckDB oracle
    # evaluates identically at gate widths). Widths >32 (corpora past ~2^33
    # docs) draw bit j of xxhash64(token) — a 64-bit JVM-side hash with no
    # Python in the loop; its pipeline is pinned by a pure-Python xxhash64
    # reimplementation + planted-collision/occupancy tests
    # (tests/test_hash64.py) since DuckDB has no xxhash64 to oracle against.
    # EXPLODE + hash once + one grouped aggregate (the d05 lesson): the
    # per-bit array-fold alternative evaluates the token hash once PER BIT —
    # O(bits x words) digests per doc, and the auto-sized width multiplies
    # it (12 bits at sf0.1: measured 2.3 s -> 0.6 s). Here each token is
    # hashed exactly once; the per-bit +/-1 sums combine map-side before
    # the one shuffle on doc_id.
    # explode_outer, NOT explode: a doc whose word array is null/empty must
    # still land in bucket 0 (all bit sums null -> every when() false ->
    # simhash 0 — the per-doc-fold semantics the static oracle computes);
    # plain explode would silently DROP such docs from the bucket counts
    # (found in the round-4 self-review; the gate corpus has no empty
    # texts, so the hash gate could not catch it).
    tokens = docs.select("doc_id", F.explode_outer(_words()).alias("t"))
    # Hash each DISTINCT token once and join the per-token ±1 bit vector
    # back (the d03/d05 vocabulary rewrite): the hash and every bit test
    # depend only on the token, so per-occurrence evaluation did
    # corpus x tokens digests + bits x occurrences substring tests where
    # vocab-sized work suffices. LEFT join + coalesce(-1) keeps the
    # null-token row (null text) at the identical -1-per-bit contribution
    # the inline form produced (when(NULL).otherwise(-1)); non-null tokens
    # always match the vocabulary built from the same rows.
    vocab = tokens.select("t").distinct()
    vh = vocab.select("t", F.xxhash64("t").alias("h"))

    def bit_is_set(j: int):
        # arithmetic shiftright then &1 extracts bit j exactly for
        # j ≤ 63 (sign extension never reaches the masked low bit)
        return F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1

    vbits = vh.select(
        "t",
        *[
            F.when(bit_is_set(j), 1).otherwise(-1).alias(f"s{j}")
            for j in range(bits)
        ],
    )
    bit_cols = [
        F.sum(F.coalesce(F.col(f"s{j}"), F.lit(-1))).alias(f"b{j}")
        for j in range(bits)
    ]
    per_doc = (
        tokens.join(F.broadcast(vbits), "t", "left")
        .groupBy("doc_id")
        .agg(*bit_cols)
    )
    # assemble the bucket id: bitwise-OR of distinct powers of two — exact
    # for every j including 63 (shiftleft wraps to the long sign bit, still
    # a distinct deterministic bucket id; Σ 2^j would mix signs there)
    simhash = F.lit(0).cast("long")
    for j in range(bits):
        simhash = simhash.bitwiseOR(
            F.when(
                F.col(f"b{j}") > 0,
                F.shiftleft(F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long"))
        )
    hashed = per_doc.select("doc_id", simhash.alias("simhash"))
    return hashed.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


def _simhash_sql(bits: int = SIMHASH_BITS) -> str:
    # the md5-nibble construction below covers exactly 32 bits; wider
    # widths use the xxhash64 source, which DuckDB cannot oracle (pinned by
    # tests/test_hash64.py instead)
    assert bits <= 32, f"md5-nibble oracle covers <=32 bits, got {bits}"

    def bit(j):
        return (
            "CASE WHEN list_sum(list_transform(string_split(text,' '), "
            f"t -> CASE WHEN md5(t)[{j + 1}:{j + 1}] IN ('8','9','a','b','c','d','e','f') "
            f"THEN 1 ELSE -1 END)) > 0 THEN {2 ** j} ELSE 0 END"
        )

    expr = " + ".join(bit(j) for j in range(bits))
    return f"""
WITH hashed AS (SELECT doc_id, {expr} AS simhash FROM documents)
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM hashed GROUP BY simhash
"""


D06_SQL = _simhash_sql()


# --------------------------------------------------------------------------
# d07: n-gram Jaccard similarity pairs within source (bounded pair space) —
# explode distinct shingles, equi-join on shingle, |A∩B| / (|A|+|B|-|A∩B|)
#
# The raw synthetic corpus has almost no organic shingle overlap (the r2
# gate passed on 1 row — near-zero signal), so deterministic overlap pairs
# are PLANTED identically in Spark and the oracle (the e03 pattern,
# embeddings.py): every 40th document gains a near-identical copy (first two
# words dropped, Jaccard ≳ 0.9) and every (40k+7)th a half-overlap copy
# (tail half of the words, Jaccard ≈ 0.5), exercising the join across two
# similarity levels.
# --------------------------------------------------------------------------

PLANT_EVERY = 40          # cohort stride over doc_id
PLANT_MID_PHASE = 7       # offset picking the half-overlap cohort
PLANT_ID_HI = 1_000_000   # id offset: near-identical copies
PLANT_ID_MID = 2_000_000  # id offset: half-overlap copies
PLANT_MIN_WORDS = 8       # skip docs too short to slice meaningfully


def _planted_overlap_docs(docs: DataFrame) -> DataFrame:
    w = _words()
    long_enough = F.size(w) >= PLANT_MIN_WORDS
    hi = docs.filter((F.col("doc_id") % PLANT_EVERY == 0) & long_enough).select(
        (F.col("doc_id") + PLANT_ID_HI).alias("doc_id"),
        "source",
        F.array_join(F.slice(w, 3, F.size(w)), " ").alias("text"),
    )
    mid_start = F.floor(F.size(w) / 2).cast("int")
    mid = docs.filter(
        (F.col("doc_id") % PLANT_EVERY == PLANT_MID_PHASE) & long_enough
    ).select(
        (F.col("doc_id") + PLANT_ID_MID).alias("doc_id"),
        "source",
        F.array_join(F.slice(w, mid_start, F.size(w)), " ").alias("text"),
    )
    return docs.select("doc_id", "source", "text").unionByName(hi).unionByName(mid)


def _jaccard_group_pairs(pdf):
    """Within-source candidate pairs as EXACT integer counts via a sorted
    shift-join over (shingle, doc) occurrences (guide §4.2: whole batches to
    vectorized native code). Occurrences are factorized and sorted by
    (shingle, doc); for every shift distance d, positions i and i+d with
    equal shingle codes are a within-bucket doc pair (buckets are
    contiguous, docs ascending inside a bucket, so doc_a < doc_b and the
    loop ends at the largest bucket size); np.unique over the packed pair
    keys yields |distinct(A) ∩ distinct(B)| exactly. Work and memory are
    O(sum over buckets of m^2) — the same pair-occurrence count the old
    shingle equi-join shuffled, minus the shuffle, and ~100x less compute
    than the dense (docs x vocab) matmul this replaces (the corpus
    vocabulary is small, so the 0/1 matrix was >99% zeros; measured 9 s ->
    sub-second per pass at sf1.0). Emits (doc_a, doc_b, n_inter, n_a, n_b)
    when the raw Jaccard clears a LOOSE prefilter strictly below the real
    threshold; the exact round-then-filter stays in Spark (identical
    expression to the join form), so no rounding semantics live in Python:
    every pair the join would keep has raw jaccard >= 0.2 - 5e-7, far above
    the 0.199 prefilter."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "doc_a": pd.Series([], dtype="int64"),
            "doc_b": pd.Series([], dtype="int64"),
            "n_inter": pd.Series([], dtype="int64"),
            "n_a": pd.Series([], dtype="int64"),
            "n_b": pd.Series([], dtype="int64"),
        }
    )
    order = np.argsort(pdf["doc_id"].to_numpy(), kind="stable")
    ids = pdf["doc_id"].to_numpy()[order]
    gs = pdf["gs"].to_numpy()[order]
    n = len(ids)
    lens = np.array(
        [0 if a is None else len(a) for a in gs], dtype=np.int64
    )
    if n == 0 or lens.sum() == 0:
        return empty
    flat = np.concatenate([a for a in gs if a is not None and len(a)])
    codes, _ = pd.factorize(flat)
    docix = np.repeat(np.arange(n, dtype=np.int64), lens)
    o = np.lexsort((docix, codes))
    c, dix = codes[o], docix[o]
    parts = []
    d = 1
    while d < len(c):
        m = c[:-d] == c[d:]
        if not m.any():
            break
        parts.append(dix[:-d][m] * n + dix[d:][m])
        d += 1
    if not parts:
        return empty
    keys, cnts = np.unique(np.concatenate(parts), return_counts=True)
    a, b = keys // n, keys % n
    inter = cnts.astype(np.int64)
    na, nb = lens[a], lens[b]
    keep = inter / (na + nb - inter) >= 0.199
    return pd.DataFrame(
        {
            "doc_a": pd.Series(ids[a[keep]], dtype="int64"),
            "doc_b": pd.Series(ids[b[keep]], dtype="int64"),
            "n_inter": pd.Series(inter[keep], dtype="int64"),
            "n_a": pd.Series(na[keep], dtype="int64"),
            "n_b": pd.Series(nb[keep], dtype="int64"),
        }
    )


def d07_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = _planted_overlap_docs(spread(T(spark, sf, "documents")))
    # The round-5 shape — explode distinct shingles, self-join on (shingle,
    # source), count matches per pair — emits one row per SHARED-SHINGLE
    # OCCURRENCE: with a bounded shingle vocabulary the within-source
    # buckets grow linearly with the corpus and the join's intermediate
    # grows quadratically (measured 181 s at sf1.0, ~quarter-billion rows
    # through the pair aggregate). Same result, different algorithm
    # (guide §1.2 step 1): per source group, the distinct-shingle sets
    # become a 0/1 matrix and ALL pairwise intersection counts come out of
    # one blocked BLAS matmul inside applyInPandas — the pair space is
    # identical (bounded by source), but it is flops in native code, not
    # shuffled rows. Spark applies the identical round(·,6) >= 0.2 gate to
    # the exact integer counts, so the output is bit-identical.
    sh = docs.select(
        "doc_id", "source", F.array_distinct(_word_bigrams()).alias("gs")
    )
    counts = sh.groupBy("source").applyInPandas(
        _jaccard_group_pairs,
        schema="doc_a long, doc_b long, n_inter long, n_a long, n_b long",
    )
    return (
        counts.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )


D07_SQL = f"""
WITH ws AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS w FROM documents
),
aug AS (
  SELECT doc_id, source, text FROM ws
  UNION ALL
  SELECT doc_id + {PLANT_ID_HI}, source,
         array_to_string(list_slice(w, 3, len(w)), ' ')
  FROM ws WHERE doc_id % {PLANT_EVERY} = 0 AND len(w) >= {PLANT_MIN_WORDS}
  UNION ALL
  SELECT doc_id + {PLANT_ID_MID}, source,
         array_to_string(
           list_slice(w, CAST(FLOOR(len(w) / 2) AS INT), len(w)), ' ')
  FROM ws WHERE doc_id % {PLANT_EVERY} = {PLANT_MID_PHASE}
    AND len(w) >= {PLANT_MIN_WORDS}
),
sh AS (
  SELECT doc_id, source,
         UNNEST(list_distinct(list_transform(
           generate_series(1, GREATEST(len(string_split(text,' '))-1,1)),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))) AS shingle
  FROM aug
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
"""


# --------------------------------------------------------------------------
# d08: near-duplicate CLUSTERS — connected components over the d05 candidate
# graph, the canonicalization step a dedup pipeline runs after pairing
# (keep min-doc_id per component, drop the rest). Spark-first shape:
# hash-to-min label propagation as frontier iteration (the q28/q31
# Pregel-on-DataFrames idiom): per round each node takes the min of its own
# label, its neighbors' labels (one edge join + min aggregate), AND the
# label of its current label (pointer jump — a labels self-join). The jump
# doubles the distance the min travels per round, so convergence is
# O(log diameter) instead of O(diameter) — the corpus has a 240-doc chained
# component whose diameter plain propagation couldn't cover in a bounded
# unroll. D08_ROUNDS is fixed so the unrolled DuckDB oracle computes the
# identical state; convergence on the corpus is pinned by pytest vs
# networkx connected components. Scale: edges are the LSH-bounded pair set
# (no all-pairs anywhere); each round shuffles only the edge + label
# tables — the standard large-graph CC loop.
# --------------------------------------------------------------------------

# The corpus' largest candidate component is a 240-doc chain of diameter 24;
# the jump rule converges there in 13 rounds (simulated exactly) — 16 gives
# margin. At corpus scale this is the knob to size ~log2(max diameter).
D08_ROUNDS = 16


def d08_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    import os

    from ..lake import fs

    # PERSISTED: the adjacency union references the pair set twice (forward
    # + swapped direction) — without a cache the entire d05 LSH pipeline
    # executes twice inside the adj barrier (measured 12.5 s vs ~4 s for
    # one pass at sf0.1). Released by the harness (operators/resources.py).
    pairs = scoped_persist(d05_minhash_lsh_pairs(spark, sf).select("doc_a", "doc_b"))
    # Each round references the label state THREE times (neighbor probe,
    # pointer jump, carry-forward), so the iteration needs a hard barrier
    # per round or the plan/lineage compounds. localCheckpoint is NOT
    # enough: even with the logical plan truncated to a LogicalRDD,
    # per-round wall time still grew exponentially after ~10 rounds
    # (measured 0.5 s -> 113 s); a parquet round-trip is a true barrier and
    # stays flat at ~0.5 s/round — and is exactly how a production
    # iterative job persists per-round state anyway. Barriers live under the
    # warehouse scratch root (operators/resources.py), NOT driver-local
    # tempfile paths: on a real cluster executors must read the files the
    # plan references, so they go on the shared store. Intermediate rounds
    # are deleted eagerly; the final round's files back the returned
    # DataFrame, so the whole dir is registered for harness-driven release
    # after the caller consumes the result.
    tmp = scratch_dir(spark, "d08_cc")

    # Barrier files are sized to the LABEL TABLE, not the session's shuffle
    # width: the per-round state is O(nodes-in-pair-graph) rows, far below
    # the corpus, so writing it 32-ways just multiplies task overhead by
    # 16 rounds (measured ~2x on the round loop at sf0.1). ~500k rows per
    # file is the same heuristic a production CC loop uses; coalesce is a
    # narrow op — no extra shuffle.
    n_nodes = max(int(pairs.count()) * 2, 1)
    barrier_parts = max(1, n_nodes // 500_000 + (1 if n_nodes % 500_000 else 0))

    def barrier(df: DataFrame, name: str, obs=None) -> DataFrame:
        p = os.path.join(tmp, name)
        out = df.coalesce(barrier_parts)
        if obs is not None:
            # ride the convergence sum on the barrier WRITE job (observe
            # metrics) instead of a second per-round aggregate job over the
            # written files — halves the per-round job count
            out = out.observe(obs, F.sum("label").alias("s"))
        out.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    adj = barrier(
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ),
        "adj",
    )
    labels = barrier(
        adj.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        "r0",
    )
    # Convergence early-stop: every update strictly DECREASES some label
    # (min-propagation is monotone), so an unchanged label-sum across a
    # round means the fixed point is reached and all remaining rounds are
    # identities — the unrolled DuckDB oracle runs the full D08_ROUNDS and
    # lands on the identical state. The sum rides on the barrier read
    # (one cheap agg per round); at sf0.01 this stops at 13/16, at sf0.1
    # earlier — rounds saved are parquet round-trips saved.
    from pyspark.sql import Observation

    prev_sum = None
    for i in range(D08_ROUNDS):
        prop = (
            adj.join(labels, adj.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nl"))
        )
        x, y = labels.alias("x"), labels.alias("y")
        jump = x.join(y, F.col("x.label") == F.col("y.doc_id")).select(
            F.col("x.doc_id").alias("doc_id"), F.col("y.label").alias("jl")
        )
        obs = Observation(f"d08_round_{i}")
        labels = barrier(
            labels.join(prop, "doc_id", "left")
            .join(jump, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce("nl", "label"),
                    F.coalesce("jl", "label"),
                ).alias("label"),
            ),
            f"r{i + 1}",
            obs,
        )
        fs.rmtree(os.path.join(tmp, f"r{i}"))
        # exact: per-doc labels only ever decrease (least(...) includes the
        # old label), so an unchanged SUM means NO label changed; the sum
        # is observed during the barrier write itself
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break  # fixed point — identical to running all D08_ROUNDS
        prev_sum = cur_sum
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(F.broadcast(sizes), "label").select(
        "doc_id", F.col("label").alias("cluster_id"), "cluster_size"
    )


def _d08_sql(
    rounds: int = D08_ROUNDS, b: int = MINHASH_B, r: int = MINHASH_R
) -> str:
    levels = []
    prev = "l0"
    for i in range(1, rounds + 1):
        levels.append(
            f"l{i} AS MATERIALIZED (\n"
            f"  SELECT n.doc_id,\n"
            f"         LEAST(n.label, COALESCE(p.nl, n.label),\n"
            f"               COALESCE(j.jl, n.label)) AS label\n"
            f"  FROM {prev} n LEFT JOIN (\n"
            f"    SELECT e.doc_a AS doc_id, MIN(l.label) AS nl\n"
            f"    FROM adj e JOIN {prev} l ON e.doc_b = l.doc_id GROUP BY 1\n"
            f"  ) p ON n.doc_id = p.doc_id\n"
            f"  LEFT JOIN (\n"
            f"    SELECT x.doc_id, y.label AS jl\n"
            f"    FROM {prev} x JOIN {prev} y ON x.label = y.doc_id\n"
            f"  ) j ON n.doc_id = j.doc_id\n"
            f")"
        )
        prev = f"l{i}"
    return f"""
WITH {_minhash_pairs_cte(b, r, materialized=True)},
adj AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id, doc_a AS label FROM adj),
{", ".join(levels)},
sizes AS (SELECT label, COUNT(*) AS cluster_size FROM {prev} GROUP BY label)
SELECT l.doc_id, l.label AS cluster_id, s.cluster_size
FROM {prev} l JOIN sizes s ON l.label = s.label
"""


D08_SQL = _d08_sql()


# --------------------------------------------------------------------------
# d09: sequence packing — assign documents to fixed-token-budget training
# shards, the step that turns a cleaned corpus into the shard list a trainer
# consumes. Spark-first shape: token counts are a narrow projection; the
# running offset is ONE window partitioned by `source` (the shard group), so
# the sort is bounded per source, never global — the same reason production
# packing runs per input bundle. Semantics: contiguous token-offset
# chunking within (source, doc_id) order — a document whose offset starts
# before a boundary joins the earlier shard (shards can overflow by at most
# one document), the deterministic, window-expressible packing rule.
# --------------------------------------------------------------------------

PACK_TOKEN_BUDGET = 512


def d09_sequence_packing(
    spark: SparkSession, sf: str, budget: int = PACK_TOKEN_BUDGET
) -> DataFrame:
    from pyspark.sql import Window

    docs = T(spark, sf, "documents")
    base = docs.select("doc_id", "source", F.size(_words()).alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(prev_cum / F.lit(float(budget))).cast("int").alias("shard"),
    )


D09_SQL = f"""
SELECT doc_id, source, n_tokens,
       CAST(FLOOR(prev_cum / {float(PACK_TOKEN_BUDGET)}) AS INT) AS shard
FROM (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens,
         COALESCE(SUM(len(string_split(text, ' '))) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
  FROM documents
)
"""


# --------------------------------------------------------------------------
# d10: deterministic train/val/test split — hash-bucketed by salted doc_id,
# the reproducible split every training pipeline needs (re-runs, adding
# data, or re-sharding must never move a document across splits). The md5
# hex PREFIX is compared lexicographically, which is identical in Spark and
# DuckDB and avoids any hex->int conversion differences; bounds 'e6'/'f3'
# give ~89.8% / ~5.1% / ~5.1%. Pure narrow projection — zero shuffles.
# --------------------------------------------------------------------------

SPLIT_SEED = "split-seed-1"
SPLIT_TRAIN_BOUND = "e6"  # hex[0:2] < 'e6'  -> train (230/256)
SPLIT_VAL_BOUND = "f3"    # hex[0:2] < 'f3'  -> val   (13/256)


def d10_train_split(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    h2 = F.substring(
        F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(SPLIT_SEED))),
        1,
        2,
    )
    return docs.select(
        "doc_id",
        "source",
        h2.alias("bucket"),
        F.when(h2 < SPLIT_TRAIN_BOUND, "train")
        .when(h2 < SPLIT_VAL_BOUND, "val")
        .otherwise("test")
        .alias("split"),
    )


D10_SQL = f"""
SELECT doc_id, source,
       substring(md5(CAST(doc_id AS VARCHAR) || '|' || '{SPLIT_SEED}'), 1, 2) AS bucket,
       CASE
         WHEN substring(md5(CAST(doc_id AS VARCHAR) || '|' || '{SPLIT_SEED}'), 1, 2)
              < '{SPLIT_TRAIN_BOUND}' THEN 'train'
         WHEN substring(md5(CAST(doc_id AS VARCHAR) || '|' || '{SPLIT_SEED}'), 1, 2)
              < '{SPLIT_VAL_BOUND}' THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
"""


# --------------------------------------------------------------------------
# d11: benchmark-contamination check — count 5-gram overlap between every
# training document and a benchmark/eval set, the decontamination step run
# before any corpus ships to training. Spark-first shape: the benchmark's
# distinct grams BROADCAST (eval sets are tiny vs the corpus by
# definition), the corpus side is one explode + one equi-join + one per-doc
# aggregate — no self-join, no all-pairs. The "benchmark" here is the
# PLANT_EVERY doc cohort, and the corpus is the d07 planted-overlap corpus,
# so the check is exercised at two overlap levels (near-identical plants,
# half-overlap plants) plus organic duplicates — ≥20 rows of signal, not
# the 1 organic row a bare corpus yields (the d07 lesson, r2 verdict).
# --------------------------------------------------------------------------

CONTAM_NGRAM = 5            # benchmark-overlap gram width
CONTAM_THRESHOLD = 5        # shared distinct grams ⇒ contaminated


def _word_ngrams(n: int, col: str = "text"):
    """Word n-gram array, O(words): fold zip_with over n-1 shifted slices
    (same anti-inlining shape as _word_bigrams). Callers must filter docs
    with >= n words — the trailing partial positions are sliced off, so
    every emitted gram is full-width."""
    w = _words(col)
    out = w
    for k in range(1, n):
        out = F.zip_with(
            out,
            F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.slice(out, 1, F.greatest(F.size(w) - (n - 1), F.lit(1)))


def d11_contamination(spark: SparkSession, sf: str) -> DataFrame:
    docs = _planted_overlap_docs(spread(T(spark, sf, "documents"))).filter(
        F.size(_words()) >= CONTAM_NGRAM
    )
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(_word_ngrams(CONTAM_NGRAM))).alias("g")
    )
    # benchmark = BOTH plant cohorts' originals, so the planted hi copies
    # (near-identical) and mid copies (half-overlap) both register —
    # contamination at two overlap levels
    in_bench = (F.col("doc_id") % PLANT_EVERY).isin(0, PLANT_MID_PHASE) & (
        F.col("doc_id") < PLANT_ID_HI
    )
    bench = grams.filter(in_bench).select("g").distinct()
    shared = (
        grams.filter(~in_bench)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return shared.select(
        "doc_id",
        "n_shared_grams",
        (F.col("n_shared_grams") >= CONTAM_THRESHOLD).alias("is_contaminated"),
    )


D11_SQL = f"""
WITH ws AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS w FROM documents
),
aug AS (
  SELECT doc_id, text FROM ws
  UNION ALL
  SELECT doc_id + {PLANT_ID_HI},
         array_to_string(list_slice(w, 3, len(w)), ' ')
  FROM ws WHERE doc_id % {PLANT_EVERY} = 0 AND len(w) >= {PLANT_MIN_WORDS}
  UNION ALL
  SELECT doc_id + {PLANT_ID_MID},
         array_to_string(
           list_slice(w, CAST(FLOOR(len(w) / 2) AS INT), len(w)), ' ')
  FROM ws WHERE doc_id % {PLANT_EVERY} = {PLANT_MID_PHASE}
    AND len(w) >= {PLANT_MIN_WORDS}
),
grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           UNNEST(list_transform(
             generate_series(1, len(string_split(text, ' ')) - {CONTAM_NGRAM - 1}),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                  || ' ' || string_split(text, ' ')[i+2] || ' '
                  || string_split(text, ' ')[i+3] || ' '
                  || string_split(text, ' ')[i+4])) AS g
    FROM aug WHERE len(string_split(text, ' ')) >= {CONTAM_NGRAM}
  )
),
bench AS (
  SELECT DISTINCT g FROM grams
  WHERE doc_id % {PLANT_EVERY} IN (0, {PLANT_MID_PHASE})
    AND doc_id < {PLANT_ID_HI}
)
SELECT c.doc_id, COUNT(*) AS n_shared_grams,
       COUNT(*) >= {CONTAM_THRESHOLD} AS is_contaminated
FROM grams c JOIN bench b ON c.g = b.g
WHERE NOT (c.doc_id % {PLANT_EVERY} IN (0, {PLANT_MID_PHASE})
           AND c.doc_id < {PLANT_ID_HI})
GROUP BY c.doc_id
"""


# --------------------------------------------------------------------------
# d12: PII scrubbing — regex redaction of emails / URLs / SSN-shaped ids,
# the compliance pass a corpus takes before training. All JVM-side
# regexp_replace / regexp_count (zero shuffles); patterns restricted to the
# Java∩RE2 regex subset so the DuckDB oracle evaluates identically. The
# synthetic corpus carries no organic PII, so deterministic PII strings are
# PLANTED query-side in every 20th document (same pattern as d07/e03:
# identical planting in the oracle), and the output hash-checks BOTH paths:
# redaction counts per kind AND the md5 of the scrubbed text — including
# the must-be-a-no-op rows for clean documents.
# --------------------------------------------------------------------------

PII_EVERY = 20
_RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_RE_URL = "https?://[^ ]+"
_RE_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


def d12_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    # spread: three corpus-wide regex passes + three regexp_counts per row
    docs = spread(T(spark, sf, "documents"))
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % PII_EVERY == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com via https://ex.example/u/"),
                F.col("doc_id").cast("string"),
                F.lit(" ssn 123-45-6789"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # redact URLs first (emails can appear inside URLs), then emails, then ids
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _RE_URL, "[URL]"),
            _RE_EMAIL,
            "[EMAIL]",
        ),
        _RE_SSN,
        "[ID]",
    )
    return planted.select(
        "doc_id",
        F.regexp_count("text", F.lit(_RE_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(_RE_URL)).cast("int").alias("n_urls"),
        F.regexp_count("text", F.lit(_RE_SSN)).cast("int").alias("n_ids"),
        F.md5(clean).alias("clean_md5"),
    )


D12_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PII_EVERY} = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com via https://ex.example/u/'
                   || CAST(doc_id AS VARCHAR) || ' ssn 123-45-6789'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_RE_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_RE_URL}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{_RE_SSN}')) AS INT) AS n_ids,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_RE_URL}', '[URL]', 'g'),
               '{_RE_EMAIL}', '[EMAIL]', 'g'),
             '{_RE_SSN}', '[ID]', 'g')) AS clean_md5
FROM planted
"""


# --------------------------------------------------------------------------
# d13: training-corpus materialization — the composition the whole text
# surface exists for: exact-dedup to one canonical doc per content hash
# (min doc_id wins), gate on the d02 quality score and a minimum length,
# stamp the d10 deterministic split, and emit the per-doc token count a
# packer (d09) consumes next. One aggregate + one equi-join + narrow
# projections; the same pipeline at 100 TB shuffles once on the content
# hash and once on nothing else.
# --------------------------------------------------------------------------

CORPUS_MIN_TOKENS = 10
CORPUS_MIN_QUALITY = 0.45
# Planted degenerate cohorts (the d07/e03 pattern — the organic gate corpus
# has no exact dups and nothing below the quality bar, so without planting
# none of the three drop paths would provably fire at sf0.01): exact
# duplicate copies of every 30th doc (dedup keeps the ORIGINAL, min doc_id),
# a 12-stopword doc per 40th (passes length, fails QUALITY at 0.075), and a
# 6-token doc per 40th+11 (fails LENGTH). Identical planting in the oracle;
# the output hash proves both engines dropped exactly the planted rows.
CORPUS_DUP_EVERY = 30
CORPUS_JUNK_EVERY = 40
CORPUS_ID_DUP = 3_000_000
CORPUS_ID_LOWQ = 4_000_000
CORPUS_ID_SHORT = 5_000_000
_LOWQ_TEXT = "the the the a a a of of to to in in"       # 12 pure stopwords
_SHORT_TEXT = "the a of and to in"                        # 6 tokens


def _corpus_with_planted(docs: DataFrame) -> DataFrame:
    dup = docs.filter(F.col("doc_id") % CORPUS_DUP_EVERY == 0).select(
        (F.col("doc_id") + CORPUS_ID_DUP).alias("doc_id"),
        "source", "lang", "text",
    )
    lowq = docs.filter(F.col("doc_id") % CORPUS_JUNK_EVERY == 0).select(
        (F.col("doc_id") + CORPUS_ID_LOWQ).alias("doc_id"),
        "source", "lang", F.lit(_LOWQ_TEXT).alias("text"),
    )
    short = docs.filter(F.col("doc_id") % CORPUS_JUNK_EVERY == 11).select(
        (F.col("doc_id") + CORPUS_ID_SHORT).alias("doc_id"),
        "source", "lang", F.lit(_SHORT_TEXT).alias("text"),
    )
    return (
        docs.select("doc_id", "source", "lang", "text")
        .unionByName(dup)
        .unionByName(lowq)
        .unionByName(short)
    )


def d13_training_corpus(spark: SparkSession, sf: str) -> DataFrame:
    docs = _corpus_with_planted(spread(T(spark, sf, "documents")))
    w = _words()
    n_tokens = F.size(w)
    n_stop = F.size(F.filter(w, lambda t: t.isin(*STOPWORDS)))
    quality = F.round(
        F.least(n_tokens.cast("double") / 80.0, F.lit(1.0)) * 0.5
        + (F.lit(1.0) - n_stop.cast("double") / n_tokens) * 0.5,
        6,
    )  # identical to d02's score
    base = docs.select(
        "doc_id", "source", "lang",
        F.md5("text").alias("content_md5"),
        n_tokens.alias("n_tokens"),
        quality.alias("quality_score"),
    )
    canon = base.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
    h2 = F.substring(
        F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(SPLIT_SEED))),
        1,
        2,
    )
    return (
        base.join(canon, ["content_md5", "doc_id"])  # canonical docs only
        .filter(
            (F.col("n_tokens") >= CORPUS_MIN_TOKENS)
            & (F.col("quality_score") >= CORPUS_MIN_QUALITY)
        )
        .select(
            "doc_id", "source", "lang", "n_tokens", "quality_score",
            F.when(h2 < SPLIT_TRAIN_BOUND, "train")
            .when(h2 < SPLIT_VAL_BOUND, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


D13_SQL = f"""
WITH aug AS (
  SELECT doc_id, source, lang, text FROM documents
  UNION ALL
  SELECT doc_id + {CORPUS_ID_DUP}, source, lang, text FROM documents
  WHERE doc_id % {CORPUS_DUP_EVERY} = 0
  UNION ALL
  SELECT doc_id + {CORPUS_ID_LOWQ}, source, lang, '{_LOWQ_TEXT}' FROM documents
  WHERE doc_id % {CORPUS_JUNK_EVERY} = 0
  UNION ALL
  SELECT doc_id + {CORPUS_ID_SHORT}, source, lang, '{_SHORT_TEXT}' FROM documents
  WHERE doc_id % {CORPUS_JUNK_EVERY} = 11
),
base AS (
  SELECT doc_id, source, lang, md5(text) AS content_md5,
         len(string_split(text, ' ')) AS n_tokens,
         ROUND(LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 80.0, 1.0) * 0.5
               + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                   t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
                   / len(string_split(text, ' '))) * 0.5, 6) AS quality_score
  FROM aug
),
canon AS (SELECT content_md5, MIN(doc_id) AS doc_id FROM base GROUP BY content_md5)
SELECT b.doc_id, b.source, b.lang, b.n_tokens, b.quality_score,
       CASE
         WHEN substring(md5(CAST(b.doc_id AS VARCHAR) || '|' || '{SPLIT_SEED}'), 1, 2)
              < '{SPLIT_TRAIN_BOUND}' THEN 'train'
         WHEN substring(md5(CAST(b.doc_id AS VARCHAR) || '|' || '{SPLIT_SEED}'), 1, 2)
              < '{SPLIT_VAL_BOUND}' THEN 'val'
         ELSE 'test'
       END AS split
FROM base b JOIN canon c
  ON b.content_md5 = c.content_md5 AND b.doc_id = c.doc_id
WHERE b.n_tokens >= {CORPUS_MIN_TOKENS}
  AND b.quality_score >= {CORPUS_MIN_QUALITY}
"""


# --------------------------------------------------------------------------
# d14: language-balanced sampling — cap each language at N documents,
# choosing the survivors by a SEEDED HASH RANK so the sample is
# reproducible (re-runs, late-arriving data outside the cap, and
# re-sharding never change who's in) and unbiased by ingestion order. The
# corpus is en-heavy (218/500 en at the gate corpus vs 64 fr), so the cap
# genuinely drops rows. One window per language — bounded sort per group,
# the same shape as d09; at 100 TB you'd pre-aggregate counts and only
# rank languages over the cap.
# --------------------------------------------------------------------------

LANG_CAP = 80
LANG_SAMPLE_SEED = "lang-balance-1"


def d14_lang_balanced_sample(
    spark: SparkSession, sf: str, cap: int = LANG_CAP
) -> DataFrame:
    from pyspark.sql import Window

    docs = T(spark, sf, "documents")
    h = F.md5(
        F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(LANG_SAMPLE_SEED))
    )
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.select("doc_id", "lang", "source", h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= cap)
        .select("doc_id", "lang", "source", "sample_rank")
    )


D14_SQL = f"""
SELECT doc_id, lang, source, sample_rank FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || '{LANG_SAMPLE_SEED}'),
                    doc_id
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= {LANG_CAP}
"""


# --------------------------------------------------------------------------
# d15: structural quality rules — the Gopher/C4 family of heuristics
# (Rae et al. 2021 appendix A1.1; Raffel et al. 2020 §2.2): duplicate-line
# fraction, bullet-line fraction, ellipsis-line fraction, symbol-to-word
# ratio, mean word length bounds, minimum word count. Complements d02/d13
# (token/stopword quality score) with the LINE-structure rules those can't
# see. All metrics are built-in array/regex expressions — JVM-side, zero
# shuffle, scan-partition parallel at any scale.
#
# The organic corpus is single-line prose, so every structural rule would
# trivially pass; planted cohorts (the d12/d13 pattern) give each rule a
# provably-firing fail path, and the output hash pins that both engines
# dropped exactly the planted rows for exactly the same reasons.
# --------------------------------------------------------------------------

_D15_DUP_LINES = "\nsame line again\nsame line again\nsame line again"
_D15_BULLETS = "\n- first point\n- second point\n- third point"
_D15_SYMBOLS = "\n### $$$ %% @@ ##"
_D15_ELLIPSIS = "\ntrailing thought...\nanother thought..."


def _d15_planted_text():
    d = F.col("doc_id")
    return (
        F.when(d % 25 == 0, F.concat("text", F.lit(_D15_DUP_LINES)))
        .when(d % 25 == 7, F.concat("text", F.lit(_D15_BULLETS)))
        .when(d % 25 == 13, F.concat("text", F.lit(_D15_SYMBOLS)))
        .when(d % 25 == 19, F.concat("text", F.lit(_D15_ELLIPSIS)))
        .otherwise(F.col("text"))
    )


def d15_quality_rules(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents").select("doc_id", _d15_planted_text().alias("t"))
    lines = F.split("t", "\n")
    words = F.split("t", "[ \\n]")
    n_lines = F.size(lines)
    n_words = F.size(words)
    mean_wl = F.round(
        F.aggregate(words, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        .cast("double") / n_words,
        6,
    )
    dup_line = F.round(
        F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n_lines, 6
    )
    bullet = F.round(
        F.size(F.filter(lines, lambda l: l.substr(F.lit(1), F.lit(2)) == "- "))
        .cast("double") / n_lines,
        6,
    )
    ellipsis = F.round(
        F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("double") / n_lines,
        6,
    )
    symbol = F.round(F.regexp_count("t", F.lit("[#$%@]")).cast("double") / n_words, 6)
    flagged = docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        dup_line.alias("dup_line_frac"),
        bullet.alias("bullet_frac"),
        ellipsis.alias("ellipsis_frac"),
        symbol.alias("symbol_word_ratio"),
    )
    keep = (
        (F.col("n_words") >= 10)
        & (F.col("dup_line_frac") <= 0.3)
        & (F.col("bullet_frac") <= 0.5)
        & (F.col("ellipsis_frac") <= 0.3)
        & (F.col("symbol_word_ratio") <= 0.05)
        & (F.col("mean_word_len") >= 2.0)
        & (F.col("mean_word_len") <= 12.0)
    )
    return flagged.withColumn("keep", F.when(keep, 1).otherwise(0))


D15_SQL = r"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 25 = 0
              THEN text || chr(10) || 'same line again' || chr(10) || 'same line again' || chr(10) || 'same line again'
              WHEN doc_id % 25 = 7
              THEN text || chr(10) || '- first point' || chr(10) || '- second point' || chr(10) || '- third point'
              WHEN doc_id % 25 = 13
              THEN text || chr(10) || '### $$$ %% @@ ##'
              WHEN doc_id % 25 = 19
              THEN text || chr(10) || 'trailing thought...' || chr(10) || 'another thought...'
              ELSE text END AS t
  FROM documents
),
m AS (
  SELECT doc_id,
         len(string_split(t, chr(10))) AS n_lines,
         len(regexp_split_to_array(t, '[ \n]')) AS n_words,
         ROUND(CAST(list_sum(list_transform(regexp_split_to_array(t, '[ \n]'), w -> length(w))) AS DOUBLE)
               / len(regexp_split_to_array(t, '[ \n]')), 6) AS mean_word_len,
         ROUND(1.0 - CAST(len(list_distinct(string_split(t, chr(10)))) AS DOUBLE)
               / len(string_split(t, chr(10))), 6) AS dup_line_frac,
         ROUND(CAST(len(list_filter(string_split(t, chr(10)), l -> substr(l,1,2) = '- ')) AS DOUBLE)
               / len(string_split(t, chr(10))), 6) AS bullet_frac,
         ROUND(CAST(len(list_filter(string_split(t, chr(10)), l -> right(l,3) = '...')) AS DOUBLE)
               / len(string_split(t, chr(10))), 6) AS ellipsis_frac,
         ROUND(CAST(len(regexp_extract_all(t, '[#$%@]')) AS DOUBLE)
               / len(regexp_split_to_array(t, '[ \n]')), 6) AS symbol_word_ratio
  FROM planted
)
SELECT *,
       CASE WHEN n_words >= 10 AND dup_line_frac <= 0.3 AND bullet_frac <= 0.5
             AND ellipsis_frac <= 0.3 AND symbol_word_ratio <= 0.05
             AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
            THEN 1 ELSE 0 END AS keep
FROM m
"""


# --------------------------------------------------------------------------
# d16: incremental cross-snapshot dedup — the CDC shape of exact dedup: an
# incoming document batch is deduped WITHIN itself (canonical = min doc_id
# per content hash, the d01/d13 idiom) and then AGAINST the already-ingested
# corpus (hash anti-join), instead of re-deduping the whole corpus per batch.
# ≙ silver_trips.sql:2-3,37 (incremental unique-key materialization) applied
# to the content-hash domain of the dedup ladder (silver_stations.sql:46-63).
#
# Scale shape: one shuffle on content_md5 for the in-batch collapse, one
# hash join vs the corpus-hash index. At 100 TB the corpus side is a
# md5-bucketed index table, making the join bucket-local; the incoming batch
# (<< corpus) never forces a corpus rewrite — this is exactly why the
# incremental path exists.
#
# Planted cohorts (organic texts are globally unique, so neither drop path
# would otherwise fire): a copy of every 20th BASE doc inside the batch
# (must come out status='dup_vs_base') and an in-batch shadow copy of every
# 35th incoming doc (must be collapsed by the canonical min-doc_id rule and
# appear only once).
# --------------------------------------------------------------------------

D16_ID_XBATCH = 7_000_000
D16_ID_INBATCH = 8_000_000


def d16_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 4)
    incoming = docs.filter(F.col("doc_id") % 5 == 4)
    xbatch = base.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + D16_ID_XBATCH).alias("doc_id"), "text"
    )
    inbatch = incoming.filter(F.col("doc_id") % 35 == 4).select(
        (F.col("doc_id") + D16_ID_INBATCH).alias("doc_id"), "text"
    )
    batch = incoming.unionByName(xbatch).unionByName(inbatch).select(
        "doc_id", F.md5("text").alias("content_md5")
    )
    canon = batch.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
    base_hashes = base.select(F.md5("text").alias("content_md5")).distinct()
    return (
        canon.join(
            base_hashes.withColumn("_hit", F.lit(1)), "content_md5", "left"
        )
        .select(
            "doc_id",
            "content_md5",
            F.when(F.col("_hit").isNotNull(), F.lit("dup_vs_base"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


D16_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
),
incoming AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
),
batch AS (
  SELECT doc_id, md5(text) AS content_md5 FROM incoming
  UNION ALL
  SELECT doc_id + {D16_ID_XBATCH}, md5(text) FROM base WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + {D16_ID_INBATCH}, md5(text) FROM incoming WHERE doc_id % 35 = 4
),
canon AS (
  SELECT content_md5, MIN(doc_id) AS doc_id FROM batch GROUP BY content_md5
),
base_hashes AS (
  SELECT DISTINCT md5(text) AS content_md5 FROM base
)
SELECT canon.doc_id, canon.content_md5,
       CASE WHEN base_hashes.content_md5 IS NOT NULL THEN 'dup_vs_base' ELSE 'new' END AS status
FROM canon LEFT JOIN base_hashes ON canon.content_md5 = base_hashes.content_md5
"""


# --------------------------------------------------------------------------
# d17: global line-level dedup — the C4 boilerplate rule (Raffel et al.
# 2020 §2.2: any line occurring more than once in the corpus is kept only
# once): lines are deduped ACROSS documents, first occurrence wins
# (min (doc_id, pos)), and each document is reassembled from its surviving
# lines. Complements d01 (whole-doc) and d15 (within-doc structure): this
# is the cross-document boilerplate-removal step between them.
#
# Scale shape: posexplode is narrow; ONE hash shuffle on the line for the
# first-occurrence window; ONE shuffle on doc_id for reassembly. No join —
# the keep decision is row_number()==1 over (line ORDER BY rank), which
# Spark executes with a partial WindowGroupLimit before the exchange: each
# hot boilerplate line collapses to ~1 row per map task, so the skewed
# line keys never flood a single reducer (plan-asserted in test_plans.py).
#
# Planted cohorts (organic docs are single-line and globally unique, so no
# line would ever repeat): the two classic boilerplate lines appended to
# every 10th / 15th doc; doc_ids divisible by 30 carry both. The first
# carrier (doc_id 0) keeps them; every later carrier must lose them.
# --------------------------------------------------------------------------

_D17_BOILER_A = "subscribe to our newsletter today"
_D17_BOILER_B = "all rights reserved"


def d17_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    planted = T(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 10 == 0, F.lit("\n" + _D17_BOILER_A)).otherwise(F.lit("")),
            F.when(d % 15 == 0, F.lit("\n" + _D17_BOILER_B)).otherwise(F.lit("")),
        ).alias("t"),
    )
    lines = planted.select(
        "doc_id", F.posexplode(F.split("t", "\n")).alias("pos", "line")
    ).withColumn("rank", F.col("doc_id") * 100000 + F.col("pos"))
    # first-occurrence-wins as row_number()==1, NOT min(rank) over the line
    # partition: rank is a total order within each line (doc_id*100000+pos
    # is globally unique), so the two forms keep identical rows — but the
    # rank-under-limit shape lets Catalyst insert a partial WindowGroupLimit
    # BEFORE the exchange, collapsing each hot boilerplate line to ~1 row
    # per map task. min-over-window has no partial aggregation: it shipped
    # EVERY occurrence of every boilerplate line through one skewed
    # exchange (round-5 verdict #1; guide §2.5 hot-key handling).
    w = Window.partitionBy("line").orderBy("rank")
    kept = lines.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda s: s["line"],
                    ),
                    "\n",
                )
            ).alias("clean_md5"),
        )
    )


D17_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 10 = 0 THEN chr(10) || '{_D17_BOILER_A}' ELSE '' END
         || CASE WHEN doc_id % 15 = 0 THEN chr(10) || '{_D17_BOILER_B}' ELSE '' END AS t
  FROM documents
),
lines AS (
  -- parallel unnests zip (the Postgres rule): (line, pos) pairs 0-based,
  -- matching Spark's posexplode
  SELECT doc_id,
         unnest(range(len(string_split(t, chr(10))))) AS pos,
         unnest(string_split(t, chr(10))) AS line,
         doc_id * 100000 + unnest(range(len(string_split(t, chr(10))))) AS rank
  FROM planted
),
kept AS (
  SELECT * FROM (
    SELECT *, MIN(rank) OVER (PARTITION BY line) AS _min FROM lines
  ) WHERE rank = _min
)
SELECT doc_id, COUNT(*) AS n_kept,
       md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
FROM kept GROUP BY doc_id
"""


TEXTOPS = {
    "d01_exact_dedup": (d01_exact_dedup, D01_SQL),
    "d02_token_stats": (d02_token_stats, D02_SQL),
    "d03_langid": (d03_langid, D03_SQL),
    "d04_fingerprint": (d04_fingerprint, D04_SQL),
    "d05_minhash_lsh_pairs": (d05_minhash_lsh_pairs, D05_SQL),
    "d06_simhash": (d06_simhash, D06_SQL),
    "d07_jaccard_pairs": (d07_jaccard_pairs, D07_SQL),
    "d08_dup_clusters": (d08_dup_clusters, D08_SQL),
    "d09_sequence_packing": (d09_sequence_packing, D09_SQL),
    "d10_train_split": (d10_train_split, D10_SQL),
    "d11_contamination": (d11_contamination, D11_SQL),
    "d12_pii_scrub": (d12_pii_scrub, D12_SQL),
    "d13_training_corpus": (d13_training_corpus, D13_SQL),
    "d14_lang_balanced_sample": (d14_lang_balanced_sample, D14_SQL),
    "d15_quality_rules": (d15_quality_rules, D15_SQL),
    "d16_incremental_dedup": (d16_incremental_dedup, D16_SQL),
    "d17_line_dedup": (d17_line_dedup, D17_SQL),
}

# Corpus-adaptive oracle renderers (r4 verdict #1): the static *_SQL strings
# above are rendered at import time at the GATE-CORPUS anchors, so at any
# other corpus the Spark side auto-sizes (sizing.py) while the static oracle
# stays at the anchor — the auto-sized plans were hash-verified nowhere.
# Each entry renders the SAME oracle generator at the measured corpus size,
# mirroring exactly the sizing call the operator itself makes; at the anchor
# corpus they reproduce the static strings byte-for-byte (sizing anchors).
# Consumed by tools/check_gate.py --adaptive. ``counts`` keys: n_docs,
# n_vecs, n_labels.
TEXTOPS_ADAPTIVE_SQL = {
    "d05_minhash_lsh_pairs": lambda counts: _d05_sql(
        *auto_minhash_bands(counts["n_docs"])
    ),
    # None past 32 bits: the xxhash64 bit source has no DuckDB analog —
    # check_gate --adaptive records d06 rows-only there (pytest pins the
    # 64-bit pipeline instead, tests/test_hash64.py)
    "d06_simhash": lambda counts: (
        _simhash_sql(bits) if (bits := auto_simhash_bits(counts["n_docs"])) <= 32
        else None
    ),
    "d08_dup_clusters": lambda counts: _d08_sql(
        D08_ROUNDS, *auto_minhash_bands(counts["n_docs"])
    ),
}
