"""Deduplication operator suite for large-scale training-data pipelines.

Five strategies, all shuffle-conscious:

* :func:`exact_dedup` — hash groupBy, keep deterministic representative.
* :func:`minhash_lsh_pairs` — shingle → MinHash → banded LSH buckets →
  bucket equi-join → exact-Jaccard verify. The 100-TB path: candidate
  generation never compares non-colliding pairs.
* :func:`simhash` / :func:`simhash_pairs` — 64-bit SimHash fingerprints
  from token hashes (bit-majority), near-dups = small Hamming distance;
  banded by fingerprint prefix for the join.
* :func:`ngram_jaccard_pairs` — exact token-shingle Jaccard (the
  verification metric, also standalone for small blocks).
* :func:`embedding_near_dup_pairs` — cosine over an embedding column;
  exact within LSH-ish buckets via random-hyperplane signs.

Everything is native column expressions (JVM, codegen); hashes are
md5-based where cross-engine parity matters and xxhash64 where only
speed matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import token_shingles


def exact_dedup(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (min key wins — deterministic).

    Algebraic ``min(struct(key, ...))`` per text-hash group instead of a
    ``row_number`` window: a window sorts every hash partition, while
    ``min`` gets a map-side partial aggregate (one combine per executor
    before the shuffle) and no sort — the cheaper plan at 100 TB.
    Struct ordering compares field-by-field, key first, so the minimum
    key's whole row wins, identical to the window semantics.
    """
    others = [c for c in df.columns if c != key_col]
    packed = df.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
        F.min(F.struct(F.col(key_col), *[F.col(c) for c in others])).alias("__r")
    )
    return packed.select(*[F.col(f"__r.{c}").alias(c) for c in df.columns])


def _portable_hash(col):
    """Engine-portable 60-bit hash: first 15 hex chars of md5.

    Reproducible in DuckDB as ``CAST(('0x' || substr(md5(x),1,15)) AS
    BIGINT)`` — the oracle-parity twin of xxhash64 (which only Spark
    has). Used when ``portable=True``; the xxhash64 path stays the
    default because it is one JVM intrinsic instead of a full md5.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("decimal(20,0)").cast(
        "long"
    )


def minhash_signature_fast(shingles_col, n_hashes: int = 32, portable: bool = False):
    """MinHash over a (pre-materialized) shingle-array column.

    One hash pass over the shingles, then ``n_hashes`` arithmetic
    permutations of the longs — NOT n_hashes shingle recomputations.
    Pass an attribute (not the shingle expression) so the shingle build
    runs once per row. ``portable=True`` swaps xxhash64 for the md5-
    based engine-portable hash (driver-oracle parity).
    """
    if portable:
        base = F.transform(shingles_col, _portable_hash)
    else:
        base = F.transform(shingles_col, lambda s: F.xxhash64(s))
    sigs = []
    for i in range(n_hashes):
        a, b = 2 * i + 1, (0x9E3779B9 * (i + 1)) & 0x7FFFFFFF
        sigs.append(
            F.array_min(
                F.transform(
                    base,
                    lambda h: F.pmod(
                        (h.cast("decimal(38,0)") * a + b), F.lit((1 << 61) - 1)
                    ).cast("long"),
                )
            )
        )
    return F.array(*sigs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    k: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (a < b, jaccard ≥ threshold), LSH-blocked.

    Shuffles: one on (band, bucket) for candidates, one aggregation for
    the verify counts. Bucket sizes are bounded by similarity structure,
    not corpus size — no quadratic blowup on uniform data.

    ``portable=True`` makes every hash engine-portable (md5 gram hash;
    band bucket = the raw signature-slice string instead of its
    xxhash64), so a DuckDB oracle reproduces the output bit-for-bit.
    The default keeps 8-byte xxhash64 bucket keys — at 100 TB the
    bucket column is shuffled once per band per doc, and 8 bytes vs a
    ~40-byte slice string is the difference in shuffle volume.
    """
    rows_per_band = n_hashes // bands
    with_sh = df.select(
        F.col(key_col).alias("k"),
        F.col(text_col).alias("t"),
        token_shingles(text_col, k).alias("__sh"),
    )
    sig = with_sh.select(
        "k", "t", minhash_signature_fast(F.col("__sh"), n_hashes, portable).alias("sig")
    )

    def _bucket(i: int):
        slice_str = F.concat_ws(
            ",",
            *[
                F.element_at("sig", i * rows_per_band + j + 1).cast("string")
                for j in range(rows_per_band)
            ],
        )
        return slice_str if portable else F.xxhash64(slice_str)

    banded = sig.select(
        "k",
        "t",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), _bucket(i).alias("bucket"))
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("k", "t", "b.band", "b.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("ka"),
            F.col("b.k").alias("kb"),
            F.col("a.t").alias("ta"),
            F.col("b.t").alias("tb"),
        )
        .dropDuplicates(["ka", "kb"])
    )
    sha = token_shingles("ta", k)
    shb = token_shingles("tb", k)
    return (
        cands.withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect(sha, shb))
                / F.size(F.array_union(sha, shb)).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(F.col("ka").alias("a"), F.col("kb").alias("b"), "jaccard")
    )


def simhash(text_col, bits: int = 64):
    """64-bit SimHash fingerprint from token xxhash64s (bit-majority).

    For each bit position: sum(+1/−1 over tokens by that bit) > 0 → 1.
    Built from ``aggregate`` over the token-hash array — no shuffle,
    no UDF.
    """
    toks = F.array_distinct(F.split(F.trim(F.lower(text_col)), r"\s+"))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    fp = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        fp = fp.bitwiseOR(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(0)
        )
    return fp


def simhash_portable(text_col, bits: int = 16):
    """Engine-portable SimHash: md5 token hashes, bit-majority.

    The oracle-parity twin of :func:`simhash` (same bit-majority rule,
    md5-derived token hashes instead of xxhash64, and whitespace
    tokenization simplified to single-space splitting so the DuckDB
    twin is a one-line ``string_split_regex``)."""
    toks = F.array_distinct(F.split(F.trim(F.lower(text_col)), " +"))
    hashes = F.transform(toks, lambda t: _portable_hash(t))
    fp = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        fp = fp + F.when(vote > 0, F.lit(1 << j)).otherwise(0)
    return fp


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def hamming_pairs_from_fingerprints(
    fp: DataFrame,
    max_hamming: int,
    bits: int = 64,
    prefix_bands: int | None = None,
) -> DataFrame:
    """All pairs (a < b, hamming ≤ max_hamming) from a (k, fp) DataFrame,
    banded by fingerprint chunks.

    Completeness rests on the pigeonhole principle: the ``prefix_bands``
    chunks PARTITION all ``bits`` bits (uneven widths when they don't
    divide evenly — no bit left uncovered), so a pair with fewer than
    ``prefix_bands`` differing bits must agree exactly on at least one
    chunk and collide in that band's bucket. That requires
    ``max_hamming < prefix_bands``; ``prefix_bands=None`` (the default)
    derives ``max_hamming + 1`` so the guarantee always holds, and an
    explicit value that violates it raises instead of silently losing
    pairs.
    """
    if prefix_bands is None:
        prefix_bands = max_hamming + 1
    if max_hamming >= prefix_bands:
        raise ValueError(
            f"pigeonhole completeness needs max_hamming < prefix_bands "
            f"(got max_hamming={max_hamming}, prefix_bands={prefix_bands}): "
            f"a pair differing in every chunk would never share a bucket"
        )
    if prefix_bands > bits:
        raise ValueError(f"prefix_bands={prefix_bands} > bits={bits}")
    # chunk widths tile all `bits` bits: base width, first `rem` get +1
    base, rem = divmod(bits, prefix_bands)
    widths = [base + 1 if i < rem else base for i in range(prefix_bands)]
    offsets = [sum(widths[:i]) for i in range(prefix_bands)]

    def _chunk(i: int):
        shifted = F.shiftright(F.col("fp"), offsets[i])
        if offsets[i] + widths[i] >= bits and bits == 64:
            # top chunk of a 64-bit fp: the shift already dropped the
            # low bits and (1<<64)-1 would overflow a long literal
            return shifted
        return shifted.bitwiseAND(F.lit((1 << widths[i]) - 1))

    banded = fp.select(
        "k",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), _chunk(i).alias("bucket"))
                    for i in range(prefix_bands)
                ]
            )
        ).alias("b"),
    ).select("k", "fp", "b.band", "b.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("a"),
            F.col("b.k").alias("b"),
            hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 8,
    bits: int = 64,
    prefix_bands: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded by fingerprint
    chunks (pigeonhole-complete: see
    :func:`hamming_pairs_from_fingerprints`, which enforces
    ``max_hamming < prefix_bands`` and derives a safe band count by
    default).

    ``portable=True`` swaps in :func:`simhash_portable` fingerprints so
    the whole pair set is DuckDB-oracle-reproducible."""
    fp_expr = (
        simhash_portable(F.col(text_col), bits)
        if portable
        else simhash(F.col(text_col), bits)
    )
    fp = df.select(F.col(key_col).alias("k"), fp_expr.alias("fp"))
    return hamming_pairs_from_fingerprints(fp, max_hamming, bits, prefix_bands)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact token-shingle Jaccard pairs via shingle equi-join (J5 shape)."""
    sh = df.select(F.col(key_col).alias("k"), token_shingles(text_col, k).alias("sh"))
    sz = sh.select("k", F.size("sh").alias("sz"))
    ex = sh.select("k", F.explode("sh").alias("s"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), "s")
        .where(F.col("a.k") < F.col("b.k"))
        .groupBy(F.col("a.k").alias("ka"), F.col("b.k").alias("kb"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        inter.join(sz.select(F.col("k").alias("ka"), F.col("sz").alias("sza")), "ka")
        .join(sz.select(F.col("k").alias("kb"), F.col("sz").alias("szb")), "kb")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select(F.col("ka").alias("a"), F.col("kb").alias("b"), "jaccard")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    portable: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dups, blocked by random-hyperplane signs.

    Plane normals are derived deterministically from hashes so runs are
    reproducible without Math.random (``portable=True`` derives the ±1
    weight from md5-hex parity, reproducible in DuckDB; default uses
    xxhash64). Candidates share the full sign-bucket; verify computes
    exact cosine via zip_with/aggregate.
    """
    dims = F.size(F.col(vec_col))
    # deterministic pseudo-random plane: weight(i,p) from hash bits
    def weight(i, p: int):
        if portable:
            digit = F.conv(
                F.substring(F.md5(F.format_string("%d," + str(p), i)), 1, 1), 16, 10
            ).cast("int")
            return F.when(digit % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        return F.when(
            F.pmod(F.xxhash64(i, F.lit(p)), F.lit(2)) == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    def plane_sign(p: int):
        # sum_i v[i] * w(i,p), w ∈ {-1,+1}
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.sequence(F.lit(0), dims - 1),
                lambda v, i: v.cast("double") * weight(i, p),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) > 0

    bucket = F.concat_ws(
        "", *[plane_sign(p).cast("int").cast("string") for p in range(n_planes)]
    )
    sig = df.select(
        F.col(key_col).alias("k"), F.col(vec_col).alias("v"), bucket.alias("bucket")
    )
    a, b = sig.alias("a"), sig.alias("b")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, w: u.cast("double") * w.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    va, vb = F.col("a.v"), F.col("b.v")
    cos = dot(va, vb) / (F.sqrt(dot(va, va)) * F.sqrt(dot(vb, vb)))
    return (
        a.join(b, "bucket")
        .where(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("a"),
            F.col("b.k").alias("b"),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
