"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB corpus):
- exact dedup is one hash-partitioned groupBy on a fingerprint — the only
  shuffle is (fingerprint -> min id), map-side combined.
- MinHash signatures are computed scan-side with built-in array functions
  (no Python in the loop); LSH banding turns the quadratic all-pairs
  problem into an equi-join on (band_index, band_hash), which Spark
  hash-partitions; AQE skew-join handles hot buckets (boilerplate shingles).
- candidate verification re-joins the shingle sets only for candidate
  pairs, so exact-Jaccard cost is O(candidates), not O(n^2).
- SimHash is the one Pandas-UDF operator (bit-twiddling over md5 digests);
  it is Arrow-batched and embarrassingly parallel.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from planet_dump_ng_spark.operators.text import bind, fingerprint, tokens

# 31-bit Mersenne prime: with h, a, b < 2^31, (a*h + b) < 2^62 never
# overflows a signed 64-bit long (Spark 4 runs ANSI mode, which would throw).
_MERSENNE_31 = (1 << 31) - 1


def spread_small_input(df: DataFrame) -> DataFrame:
    """Decouple CPU-dense derivation parallelism from input file layout.

    Tokenize+shingle+hash is compute-bound: a corpus that arrives as a
    few small files plans a few scan partitions and strands the rest of
    the cluster.  When the scan has fewer partitions than the default
    parallelism, round-robin the (tiny) raw rows across it; when the
    input is already wide — the 100 TB case, ~one partition per 128 MB
    split — this is a no-op, so the big corpus never pays a shuffle.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


# -- exact dedup --------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest id per canonical-fingerprint group.

    Returns (keep_id, dup_count, fp).  One shuffle on the fingerprint;
    min/count are partial-aggregatable so the combine happens map-side.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def dedup_keep_first(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Return the surviving rows (first occurrence per fingerprint)."""
    keep = exact_dedup(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


# -- shingling ----------------------------------------------------------------


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (space-joined).  Documents shorter than k
    tokens (but not empty) fall back to their full token string so they
    still carry one shingle; TOKENLESS documents carry NO shingles — they
    are exact-dup territory, and a near-dup metric over an empty set is
    meaningless (tests/test_xxh64_property.py pins this contract against
    the DuckDB oracle expression).

    Built by k-1 zip_with passes (each joining the array against itself
    shifted one position) instead of a slice-per-window transform —
    O(n*k) with no per-window array allocation, ~5x faster on real text.
    The token array is LET-BOUND (text.bind): the expression below
    references it ~8 times, and Catalyst re-evaluates HOF subtrees per
    reference — binding runs the regex tokenizer once per row (measured
    1.7x on the shingle+hash scan, identical output).
    """
    def body(toks: Column) -> Column:
        n = F.size(toks)
        acc = toks
        for shift in range(1, k):
            # exact remaining length: start+length must stay within int32
            # (a huge constant length silently overflows and yields [])
            shifted = F.slice(toks, shift + 1, F.greatest(n - shift, F.lit(1)))
            # zip_with pads the shorter side with NULL; concat_ws skips
            # NULLs, so tail entries become short joins — cut below by the
            # slice to n-(k-1) windows.
            acc = F.zip_with(acc, shifted, lambda x, y: F.concat_ws(" ", x, y))
        return (
            F.when(n >= k, F.slice(acc, 1, n - (k - 1)))
            .when(n > 0, F.array(F.array_join(toks, " ")))
            .otherwise(F.slice(toks, 1, 0))  # typed empty array<string>
        )

    return F.array_distinct(bind(tokens(col), body))


def shingle_hashes(col: Column | str, k: int = 3) -> Column:
    """Rolling-hash style shingle fingerprints: 64-bit xxhash per shingle,
    folded into [0, 2^31-1) (pmod by the Mersenne prime 2^31-1) so MinHash's
    a*x+b stays below 2^62 and never overflows under ANSI mode."""
    return F.transform(
        shingles(col, k), lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31))
    )


# -- MinHash + LSH ------------------------------------------------------------


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod P."""
    params = []
    for i in range(num_hashes):
        d = hashlib.sha256(f"{seed}:{i}".encode()).digest()
        a = (int.from_bytes(d[:8], "big") % (_MERSENNE_31 - 1)) + 1
        b = int.from_bytes(d[8:16], "big") % _MERSENNE_31
        params.append((a, b))
    return params


def minhash_signature(
    col: Column | str, num_hashes: int = 64, k: int = 3, seed: int = 42
) -> Column:
    """MinHash signature as array<long>, entirely in JVM expressions.

    sig[i] = min over shingles s of (a_i * h(s) + b_i) mod P.  With
    h(s) < P < 2^31 and a_i < P, the product stays below 2^62 — the
    arithmetic is designed NOT to overflow, so ANSI mode never trips.

    The shingle-hash array is LET-BOUND (text.bind): each of the
    ``num_hashes`` array_min branches references it, and Catalyst
    re-evaluates HOF subtrees once per reference — without the binding
    the regex tokenizer + shingle build ran num_hashes times per row
    (the reason a separate explode+agg formulation used to exist; see
    :func:`minhash_signatures_df`)."""
    def perm(a: int, b: int):
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE_31))

    def body(hashes: Column) -> Column:
        return F.array(
            *[
                F.array_min(F.transform(hashes, perm(a, b)))
                for a, b in _hash_params(num_hashes, seed)
            ]
        )

    return bind(shingle_hashes(col, k), body)


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures as a DataFrame plan: (id, sig array<long>).

    MAP-ONLY: one let-bound expression per row (shingle hashes computed
    once, 64 array_min folds over the bound array) — no explode, no
    aggregation, NO SHUFFLE.  History: before text.bind existed this was
    an explode + 64-column MIN aggregate (one exchange of partial-agg
    rows) because the single-expression form re-ran tokenize+shingle per
    array_min branch; with the binding the expression form is both
    shuffle-free and measured faster (sf0.1 A/B best-of-5: 0.92 s vs
    1.14 s for the agg form, bit-identical output on all 5000 docs) —
    and a map-only stage scales with no shuffle-block quadratics
    (guide §2.2)."""
    return spread_small_input(df).select(
        F.col(id_col).alias("id"),
        minhash_signature(text_col, num_hashes, k, seed).alias("sig"),
    )


def lsh_bands(sig_col: Column | str, bands: int, rows: int) -> Column:
    """Split a signature into ``bands`` bands of ``rows`` values and hash
    each band -> array<struct<band:int, bh:long>> for the bucket join."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(sig, b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )


def lsh_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The LSH bucket table ``(id, band, bh)`` — one row per document per
    band.  This is the shared substrate of the self-join candidate
    generator, the asymmetric ingest join, and the persisted corpus
    bucket artifact (streaming.jobs.corpus_lsh_buckets delegates here)."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows = num_hashes // bands
    sigs = minhash_signatures_df(df, text_col, id_col, num_hashes, k, seed)
    return sigs.select(
        "id", F.explode(lsh_bands("sig", bands, rows)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def cap_lsh_buckets(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """Keep only the ``max_bucket`` SMALLEST ids per (band, bh) bucket —
    deterministic representative election for probe-side containment: a
    batch/stream doc probing a hot boilerplate bucket meets O(cap)
    representatives instead of O(B) members.  Apply ONCE when building
    the persisted corpus bucket artifact (corpus_lsh_buckets /
    curate's ``_dedup`` tables) rather than re-ranking per probe; the
    row_number sort is per-bucket and the hot bucket is one task — a
    one-time build cost, linear in B."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bh").orderBy("id")
    return (
        buckets.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_bucket)
        .drop("_rk")
    )


def lsh_bucket_stats(buckets: DataFrame, min_size: int = 2) -> DataFrame:
    """Bucket-size histogram ``(bucket_size, n_buckets)`` over an LSH
    bucket table — the loud audit for the pair-quadratic risk: a row
    like (10_000, 3) says three buckets would each emit ~5*10^7
    candidate pairs under all-pairs emission.  Read it BEFORE choosing
    ``mode``/``max_bucket`` on :func:`minhash_lsh_candidates`.  One
    map-side-combinable aggregation; singleton buckets (no pairs) are
    dropped by ``min_size``."""
    return (
        buckets.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") >= min_size)
        .groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
    mode: str = "pairs",
    max_bucket: int | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Returns distinct (id_a, id_b) with id_a < id_b.  Plan shape:
    scan -> signature (map-only) -> explode bands -> bucket join ->
    distinct.  The join keys are uniform band hashes, so the SHUFFLE
    never skews — but candidate OUTPUT mass is governed by ``mode``:

    - ``mode="pairs"`` (default): self equi-join on (band, bh) emitting
      every in-bucket pair — all B*(B-1)/2 of a B-doc bucket.  Exhaustive
      (every bucket-sharing pair reaches the verifier) but a viral-
      boilerplate mega-cluster (B ~ 10^6 in a real crawl) emits ~5*10^11
      rows from ONE bucket; AQE skew-join splits partitions, not output
      mass, so it cannot contain this.  Use for bounded corpora or with
      ``max_bucket``.
    - ``mode="star"``: emit (bucket_min_id, id) per bucket — B-1 edges
      with the SAME connected components as all-pairs (every in-bucket
      pair is linked through the bucket minimum), so connectivity
      consumers (dedup_cluster_sizes / dedup_canonical_docs /
      leakage_free_split / curate's min-id survivor rule) lose nothing
      while a mega-bucket costs O(B), not O(B^2).  The bucket minimum is
      a map-side-combinable groupBy MIN + an equi-join back (AQE splits
      the hot bucket's join across tasks; the min side is one row per
      bucket), never a single-task window.  Note the verify stage then
      scores star edges only: a transitive cluster (A~B~C, A!~C) keeps C
      when the bucket min A fails the threshold vs C — at dedup
      thresholds in-bucket docs are mutually similar, and that recall
      trade is the price of surviving 100 TB.

    ``max_bucket`` (pairs mode): drop buckets larger than this bound
    BEFORE the self-join — the same discipline as the inverted-index
    ``max_df`` cap (superset_containment_pairs).  Docs in a dropped
    bucket still pair through their 15 other bands; audit what you
    dropped with :func:`lsh_bucket_stats` first.  Ignored in star mode
    (star is already linear).
    """
    if mode not in ("pairs", "star"):
        raise ValueError(f"mode must be 'pairs' or 'star', got {mode!r}")
    if buckets is not None:
        # caller-shared bucket table (same geometry contract as
        # minhash_lsh_join's corpus_buckets): one materialized signature
        # pass can feed the self-join AND the asymmetric ingest join —
        # at ingest scale the batch signature map is the dominant
        # per-batch cost, so computing it once per stage matters
        return _bucket_candidates(
            buckets.select("id", "band", "bh"), mode, max_bucket
        )
    buckets = (
        lsh_buckets(df, text_col, id_col, num_hashes, bands, k, seed)
        # localCheckpoint, not persist: one materialized pass feeds BOTH
        # sides of the bucket join below instead of recomputing the
        # signature aggregation twice, and the blocks are released when
        # the result goes out of scope (ContextCleaner on GC) — persist()
        # here left one CacheManager entry per call for the session's
        # lifetime, an unbounded leak for per-micro-batch callers
        # (curate_ingest_stream runs this once or twice per batch).
        # eager=False keeps the operator lazy (the checkpoint runs
        # inside the consumer's first action, no extra up-front job —
        # measured 2.0 s vs eager's 2.3 s on the sf0.1 self-join).
        # Known trade: checkpoint truncates lineage, so losing an
        # executor that holds blocks fails the JOB instead of silently
        # recomputing (persist would recompute — and leak).  Every
        # consumer retries idempotently: curate_increment re-runs
        # cleanly, foreachBatch redelivers the micro-batch, and a
        # re-invoked query rebuilds from the scan — so the failure is
        # a retry, not corruption.
        .localCheckpoint(eager=False)
    )
    return _bucket_candidates(buckets, mode, max_bucket)


def _bucket_candidates(
    buckets: DataFrame, mode: str, max_bucket: int | None
) -> DataFrame:
    """Candidate emission over a materialized bucket table — the shared
    tail of minhash_lsh_candidates for derived and caller-supplied
    buckets."""
    if mode == "star":
        mins = buckets.groupBy("band", "bh").agg(F.min("id").alias("mn"))
        return (
            buckets.join(mins, ["band", "bh"])
            .filter(F.col("id") > F.col("mn"))
            .select(F.col("mn").alias("id_a"), F.col("id").alias("id_b"))
            .distinct()
        )
    if max_bucket is not None:
        small = (
            buckets.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("band", "bh")
        )
        buckets = buckets.join(small, ["band", "bh"], "left_semi")
    left = buckets.alias("a")
    right = buckets.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _prefix_pos_explode(threshold: float, sh_col: str = "sh"):
    """``posexplode`` of the doc's prefix (the ``floor((1-t)|sh|)+2``
    smallest xxhash64 shingle hashes) -> (p, h) with ``p`` the 0-based
    rank of ``h`` in the doc's full ascending hash order.  The rank is
    what the ppjoin POSITIONAL filter consumes; emitting it costs
    nothing (posexplode vs explode) because the prefix is already built
    from the sorted array."""
    return F.posexplode(_prefix_array(threshold, sh_col))


def _prefix_array(threshold: float, sh_col: str = "sh") -> Column:
    """The doc's prefix as an ARRAY column: the ``floor((1-t)|sh|)+2``
    smallest xxhash64 shingle hashes, ascending.  Split from the
    posexplode so callers can compute the hash+sort ONCE, materialize
    the (id, sz, pref, sh) shape with a lazy localCheckpoint, and
    derive both the exploded index (twice, as a self-join) and the
    verify arrays from that one evaluation instead of re-running
    tokenize+shingle+sort per subtree reference."""
    ordered = F.array_sort(
        F.transform(F.col(sh_col), lambda s: F.xxhash64(s))
    )
    plen = (
        F.floor(F.size(sh_col) * F.lit(1.0 - threshold)) + F.lit(2)
    ).cast("int")
    return F.slice(ordered, 1, plen)


def _ppjoin_length_filter(threshold: float) -> Column:
    """ppjoin length filter: Jaccard >= t forces min(|A|,|B|) >=
    t*max(|A|,|B|).  Pruned with ONE unit of slack — sizes are ints, so
    the slack swallows any float rounding in t*max and can never drop a
    qualifying pair (verification is exact)."""
    return (
        F.least(F.col("a.sz"), F.col("b.sz")).cast("double")
        >= F.lit(threshold)
        * F.greatest(F.col("a.sz"), F.col("b.sz")).cast("double")
        - F.lit(1.0)
    )


def _ppjoin_positional_filter(threshold: float) -> Column:
    """ppjoin POSITIONAL filter (Xiao et al., public): for a candidate
    row matching on hash ``h`` at 0-based sorted ranks (pa, pb), the
    overlap can never exceed ``1 + min(|A|-pa-1, |B|-pb-1)`` when ``h``
    is the smallest shared hash — and Jaccard >= t needs overlap >=
    t/(1+t) * (|A|+|B|).  Recall stays EXACT: for every qualifying
    pair the minimum shared hash sits inside both prefixes (the
    prefix-filter guarantee) and its first-occurrence row passes this
    bound, so at least one row per qualifying pair always survives;
    rows this drops are duplicates or non-qualifying (verification is
    exact either way).  ONE unit of float slack, same discipline as
    the length filter.  Cuts candidate-pair mass ~2x at t=0.5 on the
    bench corpus (measured 453,950 -> 229,608 distinct candidates)."""
    return (
        F.lit(1.0)
        + F.least(
            F.col("a.sz") - F.col("a.p") - F.lit(1),
            F.col("b.sz") - F.col("b.p") - F.lit(1),
        ).cast("double")
        >= F.lit(threshold / (1.0 + threshold))
        * (F.col("a.sz") + F.col("b.sz")).cast("double")
        - F.lit(1.0)
    )


def _jaccard_verify(
    pairs: DataFrame, threshold: float, hashed: bool = False
) -> DataFrame:
    """Exact-Jaccard verification projection over candidate pairs joined
    back to their shingle arrays (aliases ``a``/``b``, columns id + sh,
    plus ``hs`` — the sorted xxhash64 array — when ``hashed``):
    ``(id_a, id_b, jaccard)`` rows at jaccard >= threshold.

    Two structural optimizations, both result-identical:

    1. The intersection size is LET-BOUND under a Generate (``inline``
       over a 1-element array — the one operator boundary Catalyst
       cannot inline expressions through), so ``array_intersect`` runs
       ONCE per candidate pair.  Without the barrier, CollapseProject
       folds the jaccard alias into the ``>= t`` filter, the filter
       pushes into the verify join's condition, and the intersect is
       evaluated twice there plus twice in the surviving row's
       projection — measured as 38 s of a 45 s run on the 10x corpus.

    2. ``hashed``: a provably-superset PRE-filter on the 8-byte hash
       arrays runs first, and the expensive string intersect only on
       its survivors.  Long-set intersection is several times cheaper
       than UTF8 string hashing, and at t=0.5 on the 10x corpus ~98%
       of candidate pairs fail verification — they now fail on longs.
       EXACTNESS: with I_h = |hs_a ∩ hs_b| (array_intersect is a SET
       intersect, so I_h counts distinct common hash values) and
       m = min(|sh_a|-nhd_a, |sh_b|-nhd_b) where nhd is the doc's
       DISTINCT-hash count (so |sh|-nhd is its intra-document
       collision count — observable, normally 0; note |hs| itself is
       no measure of it, transform preserves length), every
       string-intersection member maps into hs_a ∩ hs_b losing at
       most one member per intra-document collision inside the
       intersection, so |sh_a ∩ sh_b| <= I_h + m.
       Jaccard is monotone in the intersection at fixed sizes, so
       pairs with (I_h+m)/(|sh_a|+|sh_b|-(I_h+m)) < t can NEVER reach
       t on strings and are dropped with zero false negatives; the
       string phase recomputes the exact value for the rest.
       Arithmetic of the final value is IDENTICAL to the inlined form
       (int sizes, one double cast at the division), so results are
       bit-for-bit unchanged."""
    sz_sum = F.size(F.col("a.sh")) + F.size(F.col("b.sh"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    exact_j = bind(inter, lambda i: i.cast("double") / (sz_sum - i))
    if not hashed:
        row = F.inline(
            F.transform(
                F.array(inter),
                lambda i: F.struct(
                    F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    (i.cast("double") / (sz_sum - i)).alias("jaccard"),
                ),
            )
        )
        return pairs.select(row).filter(F.col("jaccard") >= threshold)
    h_inter = F.size(F.array_intersect(F.col("a.hs"), F.col("b.hs")))
    slack = F.least(
        F.size(F.col("a.sh")) - F.col("a.nhd"),
        F.size(F.col("b.sh")) - F.col("b.nhd"),
    )
    row = F.inline(
        F.transform(
            F.array(h_inter + slack),
            lambda ib: F.struct(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.when(
                    ib.cast("double") / (sz_sum - ib)
                    >= F.lit(threshold),
                    exact_j,
                ).alias("jaccard"),
            ),
        )
    )
    # NULL jaccard = failed the hash pre-filter; NULL >= t is false
    return pairs.select(row).filter(F.col("jaccard") >= threshold)


#: persisted corpus prefix-index artifact format (write_prefix_index)
PREFIX_INDEX_FORMAT = "ngram-prefix-index-v1"

#: featurizer identity recorded in the index header and checked at probe
#: time — bump when tokens()/shingles()/the hash canonical order change,
#: so an index built by older featurization refuses loudly instead of
#: silently returning wrong pairs (the DSIR model-header protocol).
PREFIX_FEATURIZER = "ws-tokens/k-gram-shingles/xxhash64-asc-v1"


def write_prefix_index(
    corpus: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> dict:
    """Persist the corpus side of :func:`ngram_jaccard_join` — the
    build-once/probe-every-batch artifact the ingest join's 100 TB
    story rests on.  Two tables: ``docs`` (id, sz, sh — the full
    shingle arrays exact verification needs) and ``pindex`` (id, sz, h
    — the exploded prefix entries each batch equi-joins against), plus
    ``meta.json`` written LAST as the commit marker with any
    pre-existing header deleted first (the dsir/tokenizer/dedup
    artifact crash-window protocol: a half-written index reads as no
    index).  ``threshold`` is the MINIMUM queryable threshold: prefix
    length shrinks as t grows, so serving any t >= the recorded value
    only over-indexes (extra candidates verify away); serving a lower
    t would silently lose pairs and is refused at read time.
    """
    import json
    import os

    d = index_dir.rstrip("/")
    os.makedirs(d, exist_ok=True)
    meta_path = f"{d}/meta.json"
    if os.path.exists(meta_path):
        os.remove(meta_path)
    from pyspark.sql import Observation

    spark = corpus.sparkSession
    docs = spread_small_input(corpus).select(
        F.col(id_col).alias("id"),
        shingles(text_col, k).alias("sh"),
    ).withColumn("sz", F.size("sh"))
    # Observations ride the write jobs, so the meta counts cost ZERO
    # extra scans — re-reading two freshly written tables (the pindex
    # one being the exploded prefix mass) just for metadata would be a
    # material per-snapshot cost at the corpus scale this targets.
    obs_docs = Observation()
    docs.observe(obs_docs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(f"{d}/docs")
    persisted = spark.read.parquet(f"{d}/docs")
    obs_pi = Observation()
    persisted.select(
        "id", "sz", _prefix_pos_explode(threshold).alias("p", "h")
    ).observe(obs_pi, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(f"{d}/pindex")
    meta = {
        "format": PREFIX_INDEX_FORMAT,
        "featurizer": PREFIX_FEATURIZER,
        "text_col": text_col,
        "id_col": id_col,
        "k": k,
        "threshold": threshold,
        "n_docs": obs_docs.get["n"],
        "n_prefix_entries": obs_pi.get["n"],
    }
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return meta


def prefix_index_add(
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Extend a persisted prefix index with a new batch — the lifecycle
    verb that keeps the artifact in step with a growing corpus without
    the once-per-snapshot rebuild (the ``ivfpq_add_to_dir`` /
    ``_write_dedup_artifact(mode="append")`` pattern).

    Idempotent: ids already present in the ``docs`` table anti-join
    away, so a redelivered batch appends NOTHING.  Featurization is
    taken from the header (k, and the recorded featurizer/text_col are
    checked), so an add can never silently diverge from the build.
    Crash-window protocol: the header is DELETED first and rewritten
    LAST with the updated counts — a crash mid-add leaves a headerless
    directory that ``read_prefix_index`` refuses loudly, which the
    curation increment treats as the rebuild-from-corpus state (a
    half-appended index must never serve).  Counts ride Observations
    on the append jobs, zero extra scans.
    """
    import json
    import os

    from pyspark.sql import Observation

    spark = new_docs.sparkSession
    _, _, meta = read_prefix_index(spark, index_dir)
    if meta.get("featurizer", PREFIX_FEATURIZER) != PREFIX_FEATURIZER:
        raise ValueError(
            f"index featurizer {meta['featurizer']!r} != this build's "
            f"{PREFIX_FEATURIZER!r} — adds would mix featurizations; "
            "rebuild the index"
        )
    if meta.get("text_col", text_col) != text_col:
        raise ValueError(
            f"index was featurized from column {meta['text_col']!r}, "
            f"add offers text_col={text_col!r} — rebuild or rename"
        )
    if meta.get("id_col", id_col) != id_col:
        raise ValueError(
            f"index ids come from column {meta['id_col']!r}, add offers "
            f"id_col={id_col!r} — appending a different id namespace "
            "would silently mix keys; rebuild or rename"
        )
    d = index_dir.rstrip("/")
    k, threshold = meta["k"], meta["threshold"]
    fresh = (
        spread_small_input(new_docs)
        .select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        # the anti-join below only screens ids ALREADY in the index: a
        # batch carrying the same id twice (reachable via the public
        # pindex_cli add) would otherwise append duplicate docs/pindex
        # rows — inflating n_docs and emitting duplicate pairs from
        # every later probe.  One batch-sized shuffle; the index-side
        # builder (write_prefix_index) takes curation survivors, whose
        # ids are unique by construction, and skips this corpus-sized
        # guard deliberately.
        .dropDuplicates(["id"])
        .join(
            spark.read.parquet(f"{d}/docs").select("id"), "id", "left_anti"
        )
        .select("id", shingles("_t", k).alias("sh"))
        .withColumn("sz", F.size("sh"))
        # one batch-sized materialization feeds both appends; lineage to
        # the docs table is cut, so the append cannot poison its own
        # anti-join (the recache-by-path hazard curate_increment documents)
        .localCheckpoint(eager=True)
    )
    meta_path = f"{d}/meta.json"
    os.remove(meta_path)  # header absent until both appends land
    # schema compatibility: a pre-positional index (no rank column)
    # keeps appending the legacy (id, sz, h) shape; a positional one
    # appends (id, sz, p, h) — mixing shapes would corrupt the table
    legacy = "p" not in spark.read.parquet(f"{d}/pindex").columns
    if legacy:
        ordered = F.array_sort(
            F.transform(F.col("sh"), lambda s: F.xxhash64(s))
        )
        plen = (
            F.floor(F.col("sz") * F.lit(1.0 - threshold)) + F.lit(2)
        ).cast("int")
        entries = fresh.select(
            "id", "sz", F.explode(F.slice(ordered, 1, plen)).alias("h")
        )
    else:
        entries = fresh.select(
            "id", "sz", _prefix_pos_explode(threshold).alias("p", "h")
        )
    obs_pi = Observation()
    entries.observe(obs_pi, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).parquet(f"{d}/pindex")
    obs_docs = Observation()
    fresh.select("id", "sh", "sz").observe(
        obs_docs, F.count(F.lit(1)).alias("n")
    ).write.mode("append").parquet(f"{d}/docs")
    meta = {
        **meta,
        "n_docs": meta["n_docs"] + obs_docs.get["n"],
        "n_prefix_entries": meta["n_prefix_entries"] + obs_pi.get["n"],
    }
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return meta


def prefix_index_compact(spark, index_dir: str) -> dict:
    """Rewrite the prefix-index tables at full width — the maintenance
    pass for an index grown by many :func:`prefix_index_add` appends
    (each append lands a handful of small files; probe scan cost
    becomes file-count-bound).  Content untouched: same rows, so probes
    serve identically before and after.  ``pindex`` range-shards on the
    hash ``h`` (the batch equi-join key) and ``docs`` on ``id`` (the
    verify join key), so file min/max stats stay selective.  Same
    two-rename swap + recovery preamble as ``llm_pipeline.dedup_compact``:
    every crash window self-heals on the next call, and the header —
    whose counts the rewrite does not change — stays in place
    throughout.  Only the HEADER is validated up front (a prior
    compact's crash can have the live table parked at ``.old``, so an
    eager table read here would fail exactly when the preamble is
    needed).  Returns {files_before, files_after}."""
    import json
    import os
    import shutil

    d = index_dir.rstrip("/")
    meta_path = f"{d}/meta.json"
    if not os.path.exists(meta_path):
        raise ValueError(f"{index_dir} has no meta.json — not a prefix index")
    with open(meta_path) as fh:
        _meta = json.load(fh)
    if _meta.get("format") != PREFIX_INDEX_FORMAT:
        raise ValueError(
            f"{index_dir} format {_meta.get('format')!r} != "
            f"{PREFIX_INDEX_FORMAT!r}"
        )
    keys = {"pindex": ["h"], "docs": ["id"]}
    for t in keys:  # heal a PRIOR compact's crash windows
        src, tmp, old = f"{d}/{t}", f"{d}/{t}.compact", f"{d}/{t}.old"
        if os.path.exists(old):
            if not os.path.exists(src):
                os.rename(old, src)
            else:
                shutil.rmtree(old)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)

    def _nfiles(path: str) -> int:
        return sum(
            1
            for _root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    n = spark.sparkContext.defaultParallelism
    before = after = 0
    for t, cols in keys.items():
        src, tmp, old = f"{d}/{t}", f"{d}/{t}.compact", f"{d}/{t}.old"
        before += _nfiles(src)
        (
            spark.read.parquet(src)
            .repartitionByRange(n, *[F.col(c) for c in cols])
            .sortWithinPartitions(*cols)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        os.rename(src, old)
        os.rename(tmp, src)
        shutil.rmtree(old)
        after += _nfiles(src)
    return {"files_before": before, "files_after": after}


def read_prefix_index(spark, index_dir: str):
    """(docs, pindex, meta) from a persisted prefix-index artifact;
    refuses a missing/foreign header loudly."""
    import json
    import os

    d = index_dir.rstrip("/")
    meta_path = f"{d}/meta.json"
    if not os.path.exists(meta_path):
        raise ValueError(f"{index_dir} has no meta.json — not a prefix index")
    with open(meta_path) as fh:
        meta = json.load(fh)
    if meta.get("format") != PREFIX_INDEX_FORMAT:
        raise ValueError(
            f"{index_dir} format {meta.get('format')!r} != "
            f"{PREFIX_INDEX_FORMAT!r}"
        )
    return (
        spark.read.parquet(f"{d}/docs"),
        spark.read.parquet(f"{d}/pindex"),
        meta,
    )


def ngram_jaccard_join(
    new: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    corpus_index: str | None = None,
) -> DataFrame:
    """Asymmetric EXACT near-dup join: ``(id_a, id_b, jaccard)`` for every
    (new doc, corpus doc) pair at Jaccard >= ``threshold`` — the
    ingest-shaped twin of :func:`minhash_lsh_join`, but exact instead of
    banding-approximate: dedup a new batch AGAINST the standing corpus
    without an LSH recall trade.

    Plan: prefix-filter BOTH sides (each doc indexes its
    ``floor((1-t)|sh|)+2`` smallest-xxhash shingles — the same
    SSJoin/ppjoin bound as the self-join mode of
    :func:`ngram_jaccard_pairs`, so candidate recall is exact), join the
    two prefix indexes on the 8-byte hash with the integer-slack length
    filter, verify candidates with the exact array intersection.  At
    100 TB the corpus prefix index ``(id, sz, h)`` is a PRECOMPUTED
    PERSISTED ARTIFACT (pass ``corpus_index=`` a directory written by
    :func:`write_prefix_index` — the analogue of the LSH bucket
    artifact the curation dataset persists): each ingest batch
    equi-joins against it, so per-batch cost is proportional to the
    batch's candidate fan-out, not the corpus scan; without it the
    index is re-derived from ``corpus`` per call.  The artifact's
    recorded threshold is a floor: serving a HIGHER t only
    over-indexes (extra candidates verify away); a lower t would lose
    pairs and raises.  A doc present on BOTH sides (re-ingest overlap)
    is excluded the way the LSH join excludes it — it would trivially
    emit itself at jaccard 1.0.
    """
    assert threshold > 0, "prefix filtering requires a positive threshold"
    assert (corpus is None) != (corpus_index is None), (
        "pass exactly one of corpus= (derive per call) or "
        "corpus_index= (persisted artifact)"
    )

    def prep(df: DataFrame) -> DataFrame:
        # one derivation pass per side: sz, the full sorted hash array
        # (the verify pre-filter's input) and the sorted prefix ride
        # along with sh in a lazily-checkpointed frame, so the prefix
        # index and the verify join read the SAME materialized rows
        # instead of re-running tokenize+shingle+hash+sort per subtree
        plen = (
            F.floor(F.size("sh") * F.lit(1.0 - threshold)) + F.lit(2)
        ).cast("int")
        return (
            spread_small_input(df)
            .select(
                F.col(id_col).alias("id"), shingles(text_col, k).alias("sh")
            )
            .withColumn("sz", F.size("sh"))
            .withColumn(
                "hs",
                F.array_sort(
                    F.transform(F.col("sh"), lambda s: F.xxhash64(s))
                ),
            )
            # distinct-hash count: the verify pre-filter's collision
            # slack is |sh| - nhd (|hs| is useless for it — transform
            # preserves length, so |sh| - |hs| is identically 0)
            .withColumn("nhd", F.size(F.array_distinct("hs")))
            .withColumn("pref", F.slice(F.col("hs"), 1, plen))
            .localCheckpoint(eager=False)
        )

    def prefix_index(docs: DataFrame) -> DataFrame:
        return docs.select(
            "id", "sz", F.posexplode("pref").alias("p", "h")
        )

    nd = prep(new)
    if corpus_index is not None:
        cdocs, cpindex, meta = read_prefix_index(
            new.sparkSession, corpus_index
        )
        if meta["k"] != k:
            raise ValueError(
                f"index built with k={meta['k']}, queried with k={k}"
            )
        # featurizer identity + column provenance: an index built from a
        # different text column — or by an older tokens()/shingles()
        # version — would silently return wrong pairs; refuse loudly
        # (pre-provenance headers pass, same policy as _check_dedup_meta)
        if meta.get("featurizer", PREFIX_FEATURIZER) != PREFIX_FEATURIZER:
            raise ValueError(
                f"index featurizer {meta['featurizer']!r} != this build's "
                f"{PREFIX_FEATURIZER!r} — rebuild the index"
            )
        if meta.get("text_col", text_col) != text_col:
            raise ValueError(
                f"index was featurized from column {meta['text_col']!r}, "
                f"probed with text_col={text_col!r} — pairs would be "
                "computed over different text; rebuild or rename"
            )
        if meta.get("id_col", id_col) != id_col:
            raise ValueError(
                f"index ids come from column {meta['id_col']!r}, probe "
                f"offers id_col={id_col!r} — the output would pair two "
                "different id namespaces; rebuild or rename"
            )
        if threshold < meta["threshold"]:
            raise ValueError(
                f"index prefix length covers threshold >= "
                f"{meta['threshold']}; querying t={threshold} would "
                "silently lose pairs — rebuild the index at the lower t"
            )
        # the artifact's docs table stores (id, sh) only; the sorted
        # hash array the verify pre-filter needs is derived below,
        # AFTER the candidate semi-join, so only docs some candidate
        # actually names pay the hash+sort pass
        cdocs_arrays = cdocs.select("id", "sh")
        derive_hs = True
        pc = cpindex.alias("b")
    else:
        cd0 = prep(corpus)
        cdocs_arrays = cd0.select("id", "sh", "hs", "nhd")
        derive_hs = False
        pc = prefix_index(cd0).alias("b")
    pn = prefix_index(nd).alias("a")
    cond = (
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.id") != F.col("b.id"))
        & _ppjoin_length_filter(threshold)
    )
    if "p" in pc.columns:
        # positional filter needs the rank on BOTH sides; a
        # pre-positional persisted index (legacy (id, sz, h) layout)
        # serves without it — extra candidates only, never a lost pair
        cond = cond & _ppjoin_positional_filter(threshold)
    cand = (
        pn.join(pc, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        # consumed TWICE below (corpus semi-join + verify join) and NOT
        # checkpointed: re-running the two-long-column prefix join per
        # consumer measured FASTER at both scales than materializing it
        # (checkpoint barrier + write: probe 2.54 s vs 1.87 s at sf0.1,
        # 9.6 s vs 7.4 s on the 10x corpus) — the subtree is cheap and
        # deterministic (distinct of an equi-join), so the duplicate
        # execution is pure pipeline, no correctness exposure
    )
    # Verify-join shape (the 10x-corpus probe measured 12.3 GB of
    # shuffle + 19 GB of sort spill in the old cand->batch->corpus
    # sort-merge chain, because the first join's output — every
    # candidate PAIR carrying a full shingle array — re-shuffled for
    # the second join; 32-way sorts of those wide rows thrashed the
    # heap, which is why 8 cores beat 32).  Pair-level rows must never
    # cross an exchange (guide's decide-with-small-rows rule):
    #   1. corpus docs semi-join to the candidate id_b set FIRST —
    #      per-probe corpus bytes follow the batch's candidate
    #      fan-out, not the corpus size — and cross ONE exchange,
    #      hash-partitioned by id; the hash+sort derivation (index
    #      mode) runs after the prune, on matched docs only.
    #   2. the candidate pairs equi-join that pruned corpus side
    #      (stream side = bare (id_a, id_b) pairs; build side = the
    #      pruned docs).  The strategy is left to the planner + AQE:
    #      small corpora broadcast as before, and at scale the session's
    #      maxShuffledHashJoinLocalMapThreshold (session.py) converts
    #      the sort-merge to a SHUFFLED-HASH join at runtime — no
    #      external sort of array rows (the measured 19 GB spill), and
    #      the id partitioning from step 1 is reused, so the arrays
    #      still cross only that one exchange.
    #   3. the BATCH side attaches by BROADCAST: the ingest batch is
    #      the bounded side of this operator by contract (probe a
    #      batch against the standing corpus), so its derived arrays
    #      ship once to every executor and pair rows never carry them
    #      through an exchange.  The broadcast is unconditional: a
    #      batch too big to broadcast (hundreds of MB of derived
    #      arrays) must be chunked by the caller and probed per chunk
    #      — per-chunk cost stays fan-out-bounded.
    cd = cdocs_arrays.join(
        cand.select(F.col("id_b").alias("id")), "id", "left_semi"
    )
    if derive_hs:
        cd = cd.withColumn(
            "hs",
            F.array_sort(F.transform(F.col("sh"), lambda s: F.xxhash64(s))),
        ).withColumn("nhd", F.size(F.array_distinct("hs")))
    a = nd.select("id", "sh", "hs", "nhd").alias("a")
    b = cd.select("id", "sh", "hs", "nhd").alias("b")
    pairs = cand.join(b, cand.id_b == F.col("b.id"))
    pairs = pairs.join(F.broadcast(a), F.col("id_a") == F.col("a.id"))
    return _jaccard_verify(pairs, threshold, hashed=True)


def minhash_lsh_join(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
    corpus_buckets: DataFrame | None = None,
    max_bucket: int | None = None,
    new_buckets: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric banded-LSH candidate join: distinct ``(id_a, id_b)``
    where ``id_a`` is a NEW document sharing at least one band bucket with
    corpus document ``id_b``.

    This is the incremental-ingest shape of :func:`minhash_lsh_candidates`
    — dedup a new batch AGAINST the standing corpus instead of
    re-self-joining the whole corpus.  At 100 TB the corpus bucket table
    ``(id, band, bh)`` is a precomputed artifact (bucketed/partitioned by
    ``(band, bh)``) that each ingest batch equi-joins against: per-batch
    cost is proportional to the batch, not the corpus — pass it as
    ``corpus_buckets`` (streaming.jobs.corpus_lsh_buckets builds it, the
    curation dataset persists it as the ``_dedup`` artifact); without it
    the bucket table is re-derived from ``corpus`` per call, paying a
    corpus-sized signature pass.  Band hashes are
    uniform by construction, so the join keys don't skew; but a hot
    corpus bucket (B boilerplate docs) hands EVERY batch doc that probes
    it B candidates — ``max_bucket`` caps the corpus side at its
    ``max_bucket`` SMALLEST ids per bucket (deterministic representative
    probing: a batch doc near-identical to a boilerplate cluster still
    verifies against the cluster's representatives; only the long tail
    of a mega-bucket stops being individually named as ``id_b``).  At
    real scale bake the cap into the persisted bucket artifact once at
    build time instead of re-ranking per probe.  Within-batch
    duplicates are out of scope here — run the self-join variant on the
    batch for those.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"

    bc = (
        corpus_buckets.select("id", "band", "bh")
        if corpus_buckets is not None
        else lsh_buckets(corpus, text_col, id_col, num_hashes, bands, k, seed)
    )
    if max_bucket is not None:
        bc = cap_lsh_buckets(bc, max_bucket)
    bc = bc.alias("c")
    # new_buckets: the caller already materialized the batch's bucket
    # table (e.g. for the within-batch self-join) — reuse it instead of
    # paying the batch signature pass a second time per ingest stage
    bn = (
        new_buckets.select("id", "band", "bh")
        if new_buckets is not None
        else lsh_buckets(new, text_col, id_col, num_hashes, bands, k, seed)
    ).alias("n")
    return (
        bn.join(
            bc,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bh") == F.col("c.bh"))
            # guard self-pairs: if a batch doc already exists in the
            # corpus bucket table (re-ingest, overlap), it shares every
            # band with itself and would emit (d, d) at jaccard 1.0
            & (F.col("n.id") != F.col("c.id")),
        )
        .select(F.col("n.id").alias("id_a"), F.col("c.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    block_col: str | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity over document pairs.

    Jaccard is |A∩B| / |A∪B| over distinct shingles: a ratio of small ints,
    so it compares exactly across engines.

    Plans by mode:
    - ``candidates`` (e.g. from LSH): join the two shingle arrays onto the
      candidate pairs and intersect — O(|candidates|).
    - ``prefix_filter``: PREFIX-FILTERED inverted index (Chaudhuri et al.
      SSJoin / Xiao et al. ppjoin, public literature): order each doc's
      shingles canonically by xxhash64 and index only the
      ``floor((1-t)*|sh|) + 2`` smallest hashes — any pair with Jaccard
      >= t must share a prefix shingle under a common total order, so
      candidate recall is EXACT (the +2 over the tight +1 bound absorbs
      float boundary error in the (1-t)*|sh| product; a hash tie or
      collision only adds candidates, never loses one — see the inline
      note).  A ppjoin length filter (integer-slack form) prunes
      size-incompatible candidates.  Candidates then verify with the
      exact array intersection, so the OUTPUT is identical to the
      exhaustive mode — this is a physical optimization, not a semantic
      cap, hence nothing to log per "no silent caps".  At a real dedup
      threshold (t=0.5: half the index mass, ~quarter the pair mass;
      t=0.8: 4% of the pair mass) this is what bounds the hot-shingle
      quadratic: a ubiquitous boilerplate shingle only explodes if it is
      also among a doc's smallest hashes, and the per-shingle fan-out
      shrinks with (1-t)^2.  Requires threshold > 0.
    - ``block_col`` / full: EXHAUSTIVE INVERTED INDEX — explode shingles,
      self-join on the shingle value (within the block), count common
      shingles per pair, derive Jaccard from the per-doc set sizes.  Pairs
      sharing no shingle never materialize, so the cost is sum over
      shingles of (docs-per-shingle choose 2).  This is the documented
      exhaustive OPT-IN: a ubiquitous shingle (boilerplate, stopword
      trigram) with document frequency d emits d^2/2 pairs, and AQE
      skew-join splits the stragglers but not the pair mass — at corpus
      scale prefer ``prefix_filter=True`` (same output) or LSH
      ``candidates=`` (near-exact).
    """
    docs = spread_small_input(df).select(
        F.col(id_col).alias("id"),
        shingles(text_col, k).alias("sh"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )

    def _verify(cand: DataFrame, hashed: bool = False) -> DataFrame:
        a = docs.alias("a")
        b = docs.alias("b")
        pairs = (
            cand.join(a, cand.id_a == F.col("a.id"))
            .join(b, cand.id_b == F.col("b.id"))
        )
        return _jaccard_verify(pairs, threshold, hashed=hashed)

    if candidates is not None:
        # NOT checkpointed: the two verify sides each derive the shingle
        # scan lazily, and measured A/B (best-of-5, isolated sessions)
        # showed the one-pass localCheckpoint variant ~15% SLOWER here —
        # the saved tokenize pass doesn't cover the materialize+cache
        # cost when only two readers exist and both sit under broadcast
        # builds.  (The prefix path keeps it: four readers + the sort.)
        return _verify(candidates)

    assert threshold > 0, "inverted-index path requires a positive threshold"
    if prefix_filter:
        # canonical order = ascending xxhash64(shingle); the index joins
        # on the HASH, not the string (8-byte shuffle keys instead of
        # shingle text) — a 64-bit collision only ADDS a candidate pair
        # that exact verification discards, it can never lose one, so
        # hash ties need no tiebreak and exactness is untouched.
        # ONE derivation pass: sz + sorted prefix ride along with sh in
        # a lazily-checkpointed frame, so the index self-join (2 refs)
        # and the verify join (2 refs) all read the same materialized
        # rows — 1 tokenize+shingle+hash+sort pass instead of 4.  At
        # 100 TB this trades local-disk residency of (id, sh, pref) for
        # 3 corpus rescans, the same trade the exhaustive path makes.
        plen = (
            F.floor(F.size("sh") * F.lit(1.0 - threshold)) + F.lit(2)
        ).cast("int")
        docs = (
            docs.withColumn("sz", F.size("sh"))
            .withColumn(
                "hs",
                F.array_sort(
                    F.transform(F.col("sh"), lambda s: F.xxhash64(s))
                ),
            )
            # verify pre-filter collision slack input (see prep() in
            # ngram_jaccard_join): |sh| - nhd, NOT |sh| - |hs|
            .withColumn("nhd", F.size(F.array_distinct("hs")))
            .withColumn("pref", F.slice(F.col("hs"), 1, plen))
            .localCheckpoint(eager=False)
        )
        pex = docs.select(
            "id",
            *(["blk"] if block_col else []),
            "sz",
            F.posexplode("pref").alias("p", "h"),
        )
        pa, pb = pex.alias("a"), pex.alias("b")
        cond = (F.col("a.h") == F.col("b.h")) & (
            F.col("a.id") < F.col("b.id")
        )
        cond = cond & _ppjoin_length_filter(threshold)
        cond = cond & _ppjoin_positional_filter(threshold)
        if block_col:
            cond = cond & (F.col("a.blk") == F.col("b.blk"))
        cand = (
            pa.join(pb, cond)
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .distinct()
        )
        return _verify(cand, hashed=True)
    blk_cols = ["blk"] if block_col else []
    # carry the set size on every inverted-index row: the pair aggregation
    # then needs no join-back against a sizes table (2 fewer shuffles for a
    # few extra bytes per row)
    ex = docs.select(
        "id", *blk_cols, F.size("sh").alias("sz"), F.explode("sh").alias("s")
    ).persist()  # both self-join sides read the index; tokenize+shingle once
    ea, eb = ex.alias("a"), ex.alias("b")
    join_cond = (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id"))
    if block_col:
        join_cond = join_cond & (F.col("a.blk") == F.col("b.blk"))
    common = (
        ea.join(eb, join_cond)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first(F.col("a.sz")).alias("sz_a"),
            F.first(F.col("b.sz")).alias("sz_b"),
        )
    )
    return common.select(
        "id_a",
        "id_b",
        (
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def superset_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 50,
) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / |A| — the near-superset
    detector (Broder's containment): a short document quoted or wrapped
    inside a longer one scores containment ~1.0 while its symmetric
    Jaccard stays far below any dedup threshold, so this is the signal
    that catches quote-expansion and boilerplate-wrapper duplicates
    ``ngram_jaccard_pairs`` structurally cannot.

    Plan: hashed distinct shingles (31-bit folded xxhash64 — 8-byte
    shuffle keys), a document-frequency cap dropping shingles present in
    more than ``max_df`` docs (stop-shingles are both semantically
    uninformative and the quadratic blow-up risk of any inverted index;
    the cap bounds per-shingle pair fan-out at max_df^2 and is applied
    identically in the oracle), then the inverted-index self-join; the
    capped per-doc size is joined onto the A side only (it must be
    counted post-cap, so it cannot ride along from the explode the way
    ngram_jaccard_pairs' pre-cap size does).  Both directions
    (a,b)/(b,a) emit — containment is asymmetric.
    Denominator = A's CAPPED shingle count, so a doc of pure boilerplate
    doesn't dilute its own score.  Pairs sharing no informative shingle
    never materialize.
    """
    assert threshold > 0, "inverted-index path requires a positive threshold"
    ex = (
        spread_small_input(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingle_hashes(text_col, k))).alias("h"),
        )
        .persist()  # feeds the df-cap count AND the capped index
    )
    dfc = ex.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
    # rows are (id, h)-distinct, so COUNT(*) per h IS the doc frequency
    capped = ex.join(dfc.filter(F.col("ndocs") <= max_df), "h").select("id", "h")
    sized = capped.join(
        capped.groupBy("id").agg(F.count(F.lit(1)).alias("sz")), "id"
    )
    ca, cb = sized.alias("a"), capped.alias("b")
    pairs = (
        ca.join(
            cb,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first(F.col("a.sz")).alias("size_a"),
        )
    )
    out = pairs.select(
        "doc_a",
        "doc_b",
        "shared",
        "size_a",
        (F.col("shared").cast("double") / F.col("size_a")).alias("containment"),
    ).filter(F.col("containment") >= threshold)
    out = out.persist()
    out.count()
    ex.unpersist()
    return out


# -- Winnowing ----------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    w: int = 31,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — public): ``(id, h)`` with one row per DISTINCT selected
    fingerprint per document.

    Every character position's k-gram is hashed (31-bit folded
    xxhash64, the corpus-wide fingerprint namespace the strided
    substring detector shares), then each sliding window of ``w``
    consecutive hashes contributes its MINIMUM — so two documents
    sharing any substring of length >= ``w + k - 1`` chars share at
    least one selected fingerprint (the windows covering the match see
    the same hash sequence, hence pick the same minimum).  That is a
    GUARANTEE the strided sampler cannot give: stride-s sampling
    misses any duplicate whose window never lands on a sampled
    position, while winnowing's expected index density ~2/(w+1) is
    BETTER than 1/s at comparable guarantees (w=31, k=20 detects
    every >= 50-char copy at ~6.3% of positions indexed vs stride-10's
    10% with a one-window miss bound).

    Plan shape: map-only per document — the hash array is projected
    into a column FIRST and the window-min transform reads the
    projected array (per the repo's lambda-capture discipline:
    expressions inside ``F.transform`` lambdas re-evaluate per
    element), costing O(n·w) comparisons per doc with w a small
    constant; no UDF, no shuffle before the fingerprint explode.  Docs
    shorter than ``w + k - 1`` chars carry no full window and drop
    (exact-dedup territory).
    """
    docs = spread_small_input(df).filter(
        F.length(text_col) >= k + w - 1
    )
    hs = F.expr(
        f"transform(sequence(1, length({text_col}) - {k - 1}), "
        f"q -> pmod(xxhash64(substring({text_col}, q, {k})), "
        f"{_MERSENNE_31}))"
    )
    fps = F.expr(
        f"array_distinct(transform(sequence(1, size(_hs) - {w - 1}), "
        f"j -> array_min(slice(_hs, j, {w}))))"
    )
    return (
        docs.select(F.col(id_col).alias("id"), hs.alias("_hs"))
        .select("id", F.explode(fps).alias("h"))
    )


def substring_duplication(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "winnow",
    k: int = 20,
    w: int = 31,
    stride: int = 10,
    window: int = 50,
) -> DataFrame:
    """Char-level substring-duplication stats per document:
    ``(doc_id, n_fingerprints, n_dup_fingerprints,
    dup_fingerprint_fraction)`` — a fingerprint is "dup" when its hash
    occurs in at least one OTHER document.

    ``mode="winnow"`` (default): winnowing fingerprints — every
    duplicated substring of >= ``w + k - 1`` chars is detected
    (see :func:`winnow_fingerprints`).  ``mode="strided"``: the
    measured control — every ``window``-char gram at ``stride``
    positions, detection bounded by a one-window miss (the trade the
    exact_substring_duplication registry query documents).
    """
    if mode == "winnow":
        fp = winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    elif mode == "strided":
        grams = F.expr(
            f"transform(sequence(1, length({text_col}) - {window - 1}, "
            f"{stride}), q -> substring({text_col}, q, {window}))"
        )
        fp = (
            spread_small_input(df)
            .filter(F.length(text_col) >= window)
            .select(F.col(id_col).alias("id"), F.explode(grams).alias("s"))
            .select(
                "id",
                F.pmod(F.xxhash64("s"), F.lit(_MERSENNE_31)).alias("h"),
            )
        )
    else:
        raise ValueError(f"mode must be 'winnow' or 'strided', got {mode!r}")
    fp = fp.persist()  # feeds the corpus count AND the join-back
    cnt = fp.groupBy("h").agg(F.countDistinct("id").alias("ndocs"))
    dup = (F.col("ndocs") > 1).cast("bigint")
    out = (
        fp.join(cnt, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(dup).cast("bigint").alias("n_dup_fingerprints"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias(
                "dup_fingerprint_fraction"
            ),
        )
        .withColumnRenamed("id", "doc_id")
    )
    out = out.persist()
    out.count()
    fp.unpersist()
    return out


# -- SimHash ------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (md5-derived token hashes).

    Arrow-batched; the per-batch loop is pure Python but each call
    processes thousands of rows, and SimHash's bit-vote accumulation has
    no built-in Spark expression equivalent.
    """

    def one(text: str | None) -> int:
        if not text:
            return 0
        votes = [0] * 64
        for tok in text.split():
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for bit in range(64):
                votes[bit] += 1 if (h >> bit) & 1 else -1
        out = 0
        for bit in range(64):
            if votes[bit] > 0:
                out |= 1 << bit
        # fold into signed 64-bit for Spark LongType
        return out - (1 << 64) if out >= (1 << 63) else out

    return texts.map(one)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    block_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Scale path: block on the top ``block_bits`` bits (near-dups almost
    always agree there), equi-join within blocks, then exact popcount
    filter — the same band-then-verify shape as MinHash LSH.
    """
    sh = spread_small_input(df).select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sh")
    )
    blocked = sh.withColumn("blk", F.shiftrightunsigned("sh", 64 - block_bits))
    a, b = blocked.alias("a"), blocked.alias("b")
    xor = F.expr("a.sh ^ b.sh")
    hamming = F.bit_count(xor)
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# -- benchmark contamination ---------------------------------------------------


def containment_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination scan: (train doc, benchmark doc) pairs where
    the train doc contains >= ``threshold`` of the benchmark doc's distinct
    k-token shingles (the standard eval-leakage containment metric —
    asymmetric, unlike Jaccard: a long train doc fully swallowing a short
    eval item scores 1.0 either way).

    Plan: inverted-index equi-join on the shingle value with the benchmark
    side broadcast (eval suites are small by contract — thousands of items
    vs a 100 TB corpus), so the corpus is scanned once, map-side, with no
    corpus shuffle at all; only the per-pair count aggregation shuffles,
    and its key space is bounded by |matches|, not |corpus|.
    """
    c = spread_small_input(corpus).select(
        F.col(id_col).alias("train_id"), shingles(text_col, k).alias("sh")
    )
    b = bench.select(F.col(id_col).alias("bench_id"), shingles(text_col, k).alias("bsh"))
    cex = c.select("train_id", F.explode("sh").alias("s"))
    bex = b.select("bench_id", F.size("bsh").alias("bsz"), F.explode("bsh").alias("s"))
    return (
        cex.join(F.broadcast(bex), "s")
        .filter(F.col("train_id") != F.col("bench_id"))
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("common"), F.first("bsz").alias("bsz"))
        .select(
            "train_id",
            "bench_id",
            (F.col("common").cast("double") / F.col("bsz")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# -- C4-style duplicated-span removal ------------------------------------------


def span_occurrences(
    docs: DataFrame,
    span_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every non-overlapping ``span_tokens``-token window of every document
    as one row ``(doc_id, span_idx, span_text, n_span_tokens, h)`` with
    ``h = xxhash64(span_text)`` — the exploded occurrence table the
    span-dedup election runs on.  The final window is allowed to be short
    (token mass must be conserved); empty documents produce no spans.
    """
    def body(toks: Column) -> Column:
        # let-bound token array (text.bind): the per-span slice lambda
        # references toks twice PER SPAN ELEMENT, so without the binding
        # the regex tokenizer re-runs ~2*n_spans times per row
        n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
        # sequence(1, 0) would yield a DESCENDING [1, 0]; guard empties out.
        idx = F.when(n_spans >= 1, F.sequence(F.lit(1), n_spans)).otherwise(
            F.array().cast("array<int>")
        )
        span = lambda i: F.slice(  # noqa: E731
            toks, (i - F.lit(1)) * span_tokens + F.lit(1), F.lit(span_tokens)
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                (i - F.lit(1)).cast("int").alias("span_idx"),
                F.array_join(span(i), " ").alias("span_text"),
                F.size(span(i)).alias("n_span_tokens"),
            ),
        )

    spans = bind(tokens(text_col), body)
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(spans).alias("s"))
        .select("doc_id", "s.span_idx", "s.span_text", "s.n_span_tokens")
        .withColumn("h", F.xxhash64("span_text"))
    )


def span_dedup(
    docs: DataFrame,
    span_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style corpus-wide duplicated-span removal, reported per document.

    C4 deletes every repeated three-sentence span from all but one of the
    documents containing it; with sentence-free synthetic text the span
    unit is the non-overlapping ``span_tokens``-token window.  The kept
    occurrence of each span value is the globally FIRST one — lowest
    ``(doc_id, span_idx)`` — elected as one ``MIN(struct)`` per span hash,
    so retention is deterministic and a span repeated WITHIN a document
    also collapses to its first occurrence.

    Returns one row per non-empty document: ``n_spans``,
    ``n_removed_spans``, ``n_kept_tokens`` (conserved token mass of the
    surviving text), and ``retained_md5`` — the md5 of the surviving spans
    re-joined in span order (md5('') when everything was removed), proving
    the reassembled output, not just the counts.

    Scale shape: the occurrence table shuffles once on the 8-byte span
    hash for the election (map-side combinable MIN), once more joining the
    winner back, then one per-doc aggregate — all keys are either the
    span hash or doc_id, no pair space anywhere, cost linear in corpus
    token mass.  Identical-hash collisions merge spans in both engines
    alike (the oracle replays the same xxhash64).
    """
    # both the election and the join-back read the exploded table;
    # persist so tokenize+slice+hash runs once, not twice
    occ = span_occurrences(docs, span_tokens, id_col, text_col).persist()
    winner = occ.groupBy("h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("w")
    )
    flagged = occ.join(winner, "h").withColumn(
        "kept",
        (F.col("doc_id") == F.col("w.doc_id"))
        & (F.col("span_idx") == F.col("w.span_idx")),
    )
    kept_struct = F.when(
        F.col("kept"), F.struct("span_idx", "span_text")
    )
    out = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed_spans"),
        F.sum(F.when(F.col("kept"), F.col("n_span_tokens")).otherwise(0))
        .cast("bigint")
        .alias("n_kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["span_text"],
                ),
                " ",
            )
        ).alias("retained_md5"),
    ).persist()
    # materialize, then release the corpus-text-sized span cache — a
    # lazily-leaked occ cache would squat executor memory for the rest
    # of the session (the superset_containment_pairs discipline)
    out.count()
    occ.unpersist()
    return out


def span_dedup_rewrite(
    docs: DataFrame,
    span_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The curation-stage form of :func:`span_dedup`: returns ``docs``
    with ``text_col`` REWRITTEN to only its surviving spans (C4 excises
    the repeated span and keeps the page) — documents left with no text
    at all drop.  All other columns pass through unchanged.

    Same election as span_dedup (globally-first occurrence per span hash
    wins), so running the two side by side gives matching attrition
    numbers; the join back to ``docs`` is keyed on the 8-byte id.
    """
    # persist: the election and the winner filter both read the explode
    occ = span_occurrences(docs, span_tokens, id_col, text_col).persist()
    winner = occ.groupBy("h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("w")
    )
    retained = (
        occ.join(winner, "h")
        .filter(
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("span_idx") == F.col("w.span_idx"))
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("span_idx", "span_text"))
                    ),
                    lambda s: s["span_text"],
                ),
                " ",
            ).alias("_retained")
        )
        .filter(F.length("_retained") > 0)
        .withColumnRenamed("doc_id", "_sd_id")
    )
    out_cols = [
        F.col("_retained").alias(text_col) if c == text_col else F.col(c)
        for c in docs.columns
    ]
    out = (
        docs.join(retained, F.col(id_col) == F.col("_sd_id"))
        .select(*out_cols)
        .persist()
    )
    out.count()
    occ.unpersist()
    return out
