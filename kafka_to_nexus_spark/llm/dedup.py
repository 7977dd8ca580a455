"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
- exact: one hash-groupBy (map-side partial agg) — the cheapest possible.
- MinHash/LSH: per-doc signature (narrow map), band → bucket (groupBy on
  band key), pair generation only WITHIN buckets — candidate pruning keeps
  the join linear-ish instead of O(n²).
- SimHash: 64-bit fingerprint from xxhash64 token hashes, entirely inside
  whole-stage codegen (no UDF); near-dup = same fingerprint or small
  Hamming distance within LSH-style prefix buckets.
- n-gram Jaccard: exact verification on LSH candidate pairs only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import layout
from .layout import compact_parquet_subdir  # noqa: F401


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per exact content hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(text: Column, k: int = 5) -> Column:
    """Character k-shingles, JVM-side (no UDF)."""
    n = F.greatest(F.length(text) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(text, i, k))


def _md5_digest_fn(g: int):
    """Digest factory for the md5 engine: group 0 is the plain digest,
    further groups are salted re-digests (see minhash_signatures)."""
    if g == 0:
        return lambda s: F.md5(s)
    return lambda s: F.md5(F.concat(s, F.lit(str(g))))


def _md5_slice_fn(r: int):
    return lambda h: F.substring(h, 8 * r + 1, 8)


def _xx_slice_fn(i: int):
    """Per-index 32-bit hash derivation over one xxhash64 digest (see
    minhash_signatures' xxhash64 engine contract — hash-family v2)."""
    mask32 = F.lit((1 << 32) - 1)
    if i == 0:
        return lambda h: F.shiftrightunsigned(h, 32)
    if i == 1:
        return lambda h: h.bitwiseAND(mask32)
    # multiply-shift family h_i = ((A*lo + C*hi + B) >> 29) & mask32
    # with fixed odd <2^29 constants per i (golden-ratio stepped)
    a = ((0x9E3779B9 * (2 * i + 1)) & ((1 << 29) - 1)) | 1
    c = ((0x85EBCA6B * (2 * i + 3)) & ((1 << 29) - 1)) | 1
    b = (0xC2B2AE35 * i) & ((1 << 60) - 1)
    return lambda h: (
        F.shiftrightunsigned(
            h.bitwiseAND(mask32) * F.lit(a)
            + F.shiftrightunsigned(h, 32) * F.lit(c)
            + F.lit(b),
            29,
        ).bitwiseAND(mask32)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 5,
    keep_cols: tuple[str, ...] = (),
    hash_engine: str = "md5",
    emit_hashes_col: str | None = None,
    emit_xx_prefix: str | None = None,
) -> DataFrame:
    """Per-doc MinHash signature — a narrow map-only stage, no shuffle.

    ``hash_engine`` selects the per-shingle hash (same contract as
    :func:`simhash`'s ``token_hash``):

    - ``"md5"`` (default): engine-portable and md5-thrifty — one md5 per
      distinct shingle yields FOUR independent 32-bit hashes (disjoint
      8-hex-char slices of the digest); beyond 4, extra digests are
      salted md5(shingle || group). DuckDB replays it bit-for-bit — the
      correctness-gate twin.
    - ``"xxhash64"``: JVM-native — the production/streaming hot path.
      ONE xxhash64 per distinct shingle; the first two 32-bit hashes are
      the digest's halves, and every further hash is a multiply-shift
      universal hash over those halves (odd 29-bit constants: products
      stay below 2^61, so the arithmetic never overflows a long — safe
      under ANSI mode). Deriving arithmetically instead of salted
      re-digests cuts the string-hash passes from ceil(n/2) to exactly 1
      (measured ~2x on the streaming bench path).

      .. warning:: **hash-family version 2.** The xxhash64 values for
         hash indices >= 2 changed when the salted re-digests were
         replaced by multiply-shift derivation: band keys differ from
         version-1 releases, so any PERSISTED signature table or
         streaming near-dup CHECKPOINT built with the old family
         silently stops matching new arrivals (pairs dropped, no
         error). Rebuild persisted signatures and restart streaming
         near-dup queries from a fresh checkpoint when upgrading; the
         md5 engine is unchanged and version-stable.

      Signature columns are
      LONGs instead of hex strings, which downstream banding (concat_ws
      keys) and bucket joins handle identically.

    ``emit_hashes_col`` (r13, md5 engine only): additionally emit the
    :func:`ngram_hashes` relation (top-60-bit md5 longs per distinct
    shingle) under this column name, derived from the SAME ``_d0``
    digests the signature minima slice — the dedup pipelines need both
    relations and this removes their second corpus-wide digest pass
    (guide §1.2: remove passes). Values are bit-identical to
    :func:`ngram_hashes` (same shingle set, same md5, same slice).

    ``emit_xx_prefix`` (r14, md5 engine only): additionally emit the
    XXHASH64 engine's signature columns as ``{prefix}0..{prefix}N`` in
    the SAME pass — the engine-parity certificates need both engines'
    signatures over one corpus, and this folds the second corpus
    scan + shingle pass into the first (guide §1.2/§2.4; the shingle
    relation is engine-independent, only the digests differ). Values
    are bit-identical to a separate ``hash_engine="xxhash64"`` call
    (same shingle set, same digest expressions — pytest-pinned).
    """
    sh = F.array_distinct(shingles(F.col(text_col), shingle_k))

    # NB: factories (_md5_digest_fn/_md5_slice_fn/_xx_slice_fn), not
    # multi-arg lambdas — PySpark treats a two-arg transform lambda as
    # (element, index).
    if hash_engine == "md5":
        slices_per_digest = 4
        n_groups = (num_hashes + slices_per_digest - 1) // slices_per_digest

        digest_cols = [
            F.transform(sh, _md5_digest_fn(g)).alias(f"_d{g}")
            for g in range(n_groups)
        ]
        if emit_xx_prefix is not None:
            digest_cols.append(
                F.transform(sh, lambda s: F.xxhash64(s)).alias("_h0")
            )
        # keep_cols ride along (e.g. the event timestamp on a streaming
        # frame — a post-hoc join back would be a stream-stream join)
        with_digests = df.select(F.col(id_col), *keep_cols, *digest_cols)
        cols = [
            F.array_min(
                F.transform(
                    F.col(f"_d{i // slices_per_digest}"),
                    _md5_slice_fn(i % slices_per_digest),
                )
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
        if emit_hashes_col is not None:
            # array_distinct matches ngram_hashes' duplicate-free
            # guarantee (see there) — required by ngram_jaccard's
            # |A|+|B|-|A∩B| union-size identity
            cols.append(
                F.array_distinct(
                    F.transform(
                        F.col("_d0"),
                        lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast(
                            "long"
                        ),
                    )
                ).alias(emit_hashes_col)
            )
        if emit_xx_prefix is not None:
            cols.extend(
                F.array_min(
                    F.transform(F.col("_h0"), _xx_slice_fn(i))
                ).alias(f"{emit_xx_prefix}{i}")
                for i in range(num_hashes)
            )
        return with_digests.select(F.col(id_col), *keep_cols, *cols)
    if emit_hashes_col is not None:
        raise ValueError(
            "emit_hashes_col requires the md5 engine (ngram_hashes is an "
            "md5-slice relation; the xxhash64 signature digests cannot "
            "reproduce it)"
        )
    if emit_xx_prefix is not None:
        raise ValueError(
            "emit_xx_prefix requires the md5 engine (it adds the xxhash64 "
            "columns to the md5 pass; a pure-xxhash64 call already is one)"
        )
    if hash_engine != "xxhash64":
        raise ValueError(f"unknown hash_engine {hash_engine!r}")

    with_digests = df.select(
        F.col(id_col),
        *keep_cols,
        F.transform(sh, lambda s: F.xxhash64(s)).alias("_h0"),
    )
    cols = [
        F.array_min(F.transform(F.col("_h0"), _xx_slice_fn(i))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return with_digests.select(F.col(id_col), *keep_cols, *cols)


def banded_signatures(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode a signature frame into one (id, band, band_key) row per
    band — the LSH bucketing projection shared by the batch pair join and
    the streaming candidate operator. ``keep_cols`` ride along (e.g. the
    event timestamp for streaming state TTLs). Narrow map — streaming-safe."""
    import re as _re

    # canonical minhash columns (m0..mN) are authoritative when present:
    # a signature frame with ride-along columns (e.g. the streaming
    # timestamp) must NOT fold them into band keys — that would silently
    # split buckets and lose near-dup candidates
    m_cols = sorted(
        (c for c in sig.columns if _re.fullmatch(r"m\d+", c)),
        key=lambda c: int(c[1:]),
    )
    sig_cols = m_cols or [
        c for c in sig.columns if c != id_col and c not in keep_cols
    ]
    assert len(sig_cols) >= bands * rows_per_band, "not enough hashes for banding"
    return sig.select(
        id_col,
        *keep_cols,
        F.explode(_band_structs(sig_cols, bands, rows_per_band)).alias("bk"),
    ).select(id_col, *keep_cols, "bk.band", "bk.band_key")


def _band_structs(sig_cols: Sequence[str], bands: int, rows_per_band: int) -> Column:
    """One row's LSH bands as ``array<struct<band, band_key>>``: band ``b``
    keys on its ``rows_per_band`` signature columns joined by ``|``."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(sig_cols[b * rows_per_band + r]) for r in range(rows_per_band)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
    chain_col: str | None = None,
) -> DataFrame:
    """Band the signature, bucket-join within bands, emit candidate pairs.

    Shuffle key = (band_id, band_hash): only same-bucket docs ever meet,
    so the self-join is linear in bucket sizes, not O(n²) — but pair
    OUTPUT is quadratic in bucket size, and real corpora have boilerplate
    clusters (one template, 10⁴ near-copies → 10⁸ pairs from one bucket).
    ``max_bucket`` bounds each (band, band_key) bucket's pair OUTPUT at
    max_bucket² + 2·bucket_size (the batch twin of the streaming
    near_dup_candidates cap): the first ``max_bucket`` members in chain
    order pair all-against-all, and every member past the cap emits TWO
    edges — a star edge to the bucket's chain-first member and a chain
    edge to its rank-predecessor. On the raw candidate graph the
    connected components are EXACTLY the uncapped cliques' (tested by
    union-find equality). Downstream of a thresholded verify
    (jaccard/cosine ≥ τ) the guarantee is necessarily weaker — a capped
    member survives on O(1) verified edges instead of O(bucket).

    ``chain_col`` names a full-content fingerprint column riding on
    ``sig`` (e.g. ``md5(text)``; thread it through
    ``minhash_signatures(keep_cols=...)``). When given, the in-bucket
    chain is ordered by (fingerprint, id) instead of id, so EXACT
    duplicates sit contiguously and every identical same-bucket pair is
    covered by a chain edge whose verify jaccard is exactly 1 — exact
    duplicates then always merge, at any cap, under any hash engine.
    Without it the cap is LOSSY for exact dups in crowded buckets:
    measured on the sf0.01 mirrored corpus, id-ordered chains separated
    45% of exact mirror pairs and the md5/xxhash64 keep sets diverged on
    244/1000 docs; ordering by the full minhash signature was NOT enough
    (template boilerplate drives unrelated docs to identical signatures,
    so non-duplicates interleave the run and their chain links die at
    verify) — see SCALE.md r8. Near-dup (τ < 1) survival past the cap
    remains O(1)-edge best-effort by design.
    """
    if max_bucket is not None and max_bucket < 1:
        # rank-1 rows must stay in the core: max_bucket=0 would route
        # every bucket member through capped_out, emitting self-edges
        # (id_a == _canon == id_b) and null-predecessor chain edges
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    if chain_col is not None and chain_col not in sig.columns:
        raise ValueError(
            f"chain_col {chain_col!r} not in signature frame "
            f"(columns: {sig.columns})"
        )
    if chain_col is not None and max_bucket is None:
        # the content-ordered chain only exists on the capped path; silently
        # ignoring the column here would let a caller believe they bought
        # the exact-dup merge guarantee without any cap being applied
        raise ValueError(
            "chain_col requires max_bucket: fingerprint-ordered chains are "
            "a property of the capped bucket path (uncapped buckets pair "
            "all-against-all and need no chain)"
        )
    star = None
    if max_bucket is not None:
        chain_cols = [chain_col] if chain_col is not None else []
        banded = banded_signatures(
            sig, id_col, bands, rows_per_band, keep_cols=tuple(chain_cols)
        )
        # One window spec serves all three: rank for the cap, first-in-
        # chain-order for the bucket canonical, lag for the chain
        # predecessor.
        w = Window.partitionBy("band", "band_key").orderBy(
            *chain_cols, id_col
        )
        ranked = (
            banded.withColumn("_rk", F.row_number().over(w))
            .withColumn("_canon", F.first(id_col).over(w))
            .withColumn("_prev", F.lag(id_col).over(w))
        )
        # Materialize the ranked relation ONCE (r13, guide §2.4): it
        # feeds THREE plan legs (the star projection and both self-join
        # sides), and Spark replans — not shares — repeated DataFrame
        # references, so the un-checkpointed form re-ran the
        # scan→explode→exchange→sort→window subtree per leg (measured
        # 3× at sf0.1; 17.3 → 13.9 s on the parity certificate). The
        # materialized rows are narrow — (id, band, band_key, rank,
        # canon, prev); chain_cols are consumed by the window order and
        # dropped BEFORE the checkpoint — bands × N rows, the same
        # order as the banding shuffle this path already pays, so the
        # storage cost at scale is one extra copy of the banded keys,
        # against three recomputes of the exchange+sort.
        ranked = ranked.drop(*chain_cols).localCheckpoint()
        capped_out = ranked.filter(F.col("_rk") > max_bucket)
        # chain order is by content, not id, so a predecessor can carry a
        # LARGER id — canonicalize to (least, greatest) to keep the
        # family-wide id_a < id_b contract and let distinct() dedupe
        # against the capped clique. One explode leg emits BOTH the star
        # edge and the chain edge (r13): same multiset as the former
        # two-projection union, one evaluation of capped_out.
        star = capped_out.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("_canon", id_col).alias("id_a"),
                        F.greatest("_canon", id_col).alias("id_b"),
                    ),
                    F.struct(
                        F.least("_prev", id_col).alias("id_a"),
                        F.greatest("_prev", id_col).alias("id_b"),
                    ),
                )
            ).alias("_e")
        ).select("_e.id_a", "_e.id_b")
        banded = ranked.filter(F.col("_rk") <= max_bucket).drop(
            "_rk", "_canon", "_prev"
        )
    else:
        banded = banded_signatures(sig, id_col, bands, rows_per_band)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def ngram_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """The verify-side shingle identity relation ``(id_col, sh)``: top 60
    bits of md5 per distinct k-shingle as BIGINT (the family-wide
    convention). Factored out of :func:`ngram_jaccard` so callers can
    compute it once and share it across several verify passes — it does
    not depend on the banding hash engine.

    The outer ``array_distinct`` (r13) makes the array PROVABLY
    duplicate-free even under a 60-bit slice collision inside one doc —
    that invariant is what lets :func:`ngram_jaccard` compute the union
    size as ``|A| + |B| - |A∩B|`` (one O(n) set op per pair instead of
    two). It cannot change any intersect/union RESULT: Spark's
    array_intersect/array_union already return distinct elements, so
    deduping their inputs is a no-op on their outputs."""
    return df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.array_distinct(shingles(F.col(text_col), shingle_k)),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                    "long"
                ),
            )
        ).alias("sh"),
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    join_hint: str | None = None,
    hashes: DataFrame | None = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact Jaccard verification on candidate pairs only (broadcastable
    doc-side when the candidate set is small). ``join_hint="merge"`` pins
    the two doc-side joins to sort-merge for corpus-scale runs: the
    shingle relation is corpus-sized, so auto-broadcast (which small-SF
    stats would pick) OOMs at 100 TB, and shuffle-hash hard-fails when a
    partition's build side outgrows its memory slice — SMJ spills.

    Shingle identity = top 60 bits of md5 as a BIGINT (the family-wide
    convention — md5 is injective on short shingles for any practical
    corpus): integer set-intersects are ~5× cheaper than 5-char string
    arrays and shuffle a fraction of the bytes, with identical Jaccard
    values.

    ``hashes`` (r13): an optional precomputed ``(id_col, sh)`` relation
    (exactly :func:`ngram_hashes` of ``df``). The hash relation is
    engine-independent and this function references it TWICE (both join
    sides), so a caller that verifies several candidate sets over one
    corpus — the engine-parity certificates run it four times — can
    build it once, persist it, and pass it here instead of paying a
    corpus-sized shingle+md5 pass per reference (guide §2.4: share the
    computation, not just the exchange).

    ``carry_cols`` (r13): names of extra ``pairs`` columns to pass
    through to the output unchanged — lets a caller verify the DISTINCT
    union of several candidate sets in ONE pass with per-set membership
    flags riding along (the jaccard value is engine-independent, so
    verifying a pair once serves every set that surfaced it)."""
    docs = ngram_hashes(df, text_col, id_col, shingle_k) if hashes is None else hashes
    if join_hint is not None:
        docs = docs.hint(join_hint)
    a = docs.alias("a")
    b = docs.alias("b")
    # |A∪B| = |A| + |B| - |A∩B| — exact for duplicate-free arrays, which
    # ngram_hashes guarantees (and emit_hashes_col mirrors). One O(n) set
    # op per pair instead of two; pairs outnumber docs by orders of
    # magnitude after banding, so this halves the verify stage's array
    # work (r13, guide §1.2). Division is double/int → double, identical
    # to the size/size form it replaces.
    joined = (
        pairs.join(a, pairs.id_a == F.col(f"a.{id_col}"))
        .join(b, pairs.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            *carry_cols,
            F.size(F.array_intersect("a.sh", "b.sh")).alias("_i"),
            (F.size("a.sh") + F.size("b.sh")).alias("_na_nb"),
        )
        # separate projection: _i is referenced twice below, and
        # CollapseProject keeps non-cheap aliases un-inlined, so the
        # intersect is guaranteed to evaluate once per pair
        .select(
            "id_a",
            "id_b",
            *carry_cols,
            (F.col("_i") / (F.col("_na_nb") - F.col("_i"))).alias("jaccard"),
        )
    )
    return joined


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash: per-token hash, majority vote per bit — all JVM-side
    expressions (codegen), no Python in the loop.

    ``token_hash`` selects the per-token hash engine:
    - ``"xxhash64"`` (default): fastest, JVM-native — the production path.
    - ``"md5_60"``: top 60 bits of md5 as a signed long. Same plan shape
      and cost class (one digest per token), but portable across engines
      (DuckDB computes identical fingerprints) — the correctness-gate twin.
      Use ``bits<=60`` with it so every bit carries hash entropy.

    near-dup = small Hamming distance; use ``simhash_near_dups`` for
    candidate pruning before computing distances.
    """
    hash_sql = {
        "xxhash64": "xxhash64(t)",
        "md5_60": "CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)",
    }[token_hash]
    # SQL expression form: the Python shiftleft/shiftright helpers only
    # accept literal bit counts, but the SQL functions take expressions.
    # Single fold over the token hashes carrying a bits-wide vote array —
    # each token is hashed exactly once (not once per bit).
    fingerprint = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(split({text_col}, ' '), t -> {hash_sql}),
              transform(sequence(0, {bits - 1}), b -> 0),
              (votes, h) -> zip_with(votes, sequence(0, {bits - 1}),
                (v, b) -> v + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END)),
            sequence(0, {bits - 1}),
            (v, b) -> CASE WHEN v >= 0 THEN shiftleft(CAST(1 AS BIGINT), b)
                      ELSE CAST(0 AS BIGINT) END),
          CAST(0 AS BIGINT),
          (acc, x) -> acc | x)
        """
    )
    return df.select(F.col(id_col), fingerprint.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """popcount(a XOR b) via bit_count (JVM built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    sig: DataFrame,
    id_col: str = "doc_id",
    max_distance: int = 3,
    prefix_bits: int = 16,
) -> DataFrame:
    """Candidate pairs share a fingerprint prefix (LSH-style block), then
    exact Hamming check. Prefix blocking keeps the self-join off O(n²)."""
    blocked = sig.withColumn("block", F.shiftrightunsigned("simhash", 64 - prefix_bits))
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Min-label union-find over a driver-collected edge list.

    Making the smaller id the root at every union keeps each root equal
    to the minimum id of its set, so ``find(v)`` IS the canonical
    component label — no second pass. Returns ``(v, label)`` for every
    edge-touched vertex (untouched vertices are singletons and are
    labelled by the caller's join-back).
    """
    pdf = edges.toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = set(pdf["id_a"].tolist()) | set(pdf["id_b"].tolist())
    rows = [(v, find(v)) for v in touched]
    return edges.sparkSession.createDataFrame(rows, "v long, label long")


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    broadcast_edge_threshold: int = 2_000_000,
    driver_edge_threshold: int = 500_000,
) -> DataFrame:
    """Cluster verified duplicate pairs into components — the step that
    turns pairwise dedup output into "keep one doc per group".

    Min-label propagation: every vertex starts labelled with its own id;
    each round takes the min label across neighbors; converges in
    O(component diameter) rounds (near-dup clusters are dense, so
    typically 1–2). ``localCheckpoint`` truncates the lineage so plans
    stay flat across iterations, and ONE tiny driver action (sum of
    labels) per round is the convergence test. Labels only ever
    decrease, so an unchanged sum is a correct fixpoint test. At extreme
    diameters, swap the loop body for the large-star/small-star steps
    (alternation halves tree height per round); the per-round cost
    envelope is identical.

    Three size regimes, picked from the materialized edge count (the
    same decision AQE makes from runtime stats, made explicit because
    the loop re-plans per round):

    - tiny (≤ ``driver_edge_threshold`` edge rows): collect the edge
      list and run union-find on the driver — O(E·α) in one pass, no
      per-round job overhead. The memory envelope is explicit and
      bounded: 500k edges ≈ 8 MB over Arrow, the same order as a
      broadcast-join build side, so this is no more driver state than
      the alternatives — and after LSH bucket capping the verified
      duplicate-edge relation of even a large corpus routinely lands
      here. (The distributed loop is property-tested against this very
      union-find, so the two regimes are pinned to each other.)
    - small frontier (≤ ``broadcast_edge_threshold`` edge rows): the
      label relation is broadcast into both joins and the frontier is
      coalesced to a handful of partitions — each round is a couple of
      one-stage map jobs, no shuffle, so loop overhead stays ~constant
      instead of 3 × shuffle.partitions tasks per round;
    - large frontier: shuffle hash joins keyed on the vertex id — the
      only shape that holds when the edge-touched vertex set itself is
      cluster-scale.

    Returns ``(id_col, component_id)`` for every vertex — singletons
    keep their own id as the component id, and min-label makes the
    component id the canonical (lowest) doc id of its group.
    """
    # Materialize the edge relation BEFORE mirroring it: the union's two
    # branches are otherwise independent copies of the upstream candidate-
    # generation plan, so checkpointing only the union executes that whole
    # pipeline twice (measured: the CC stage cost ~5.5 s at sf0.1, ~4 s of
    # which was the second run of the shingle/LSH/verify pipeline).
    edges = edges.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    ).localCheckpoint()
    n_edges = edges.count()  # cheap: counts the checkpointed RDD
    if n_edges <= driver_edge_threshold:
        labels_df = _driver_union_find(edges)
        return vertices.select(F.col(id_col).cast("long").alias(id_col)).join(
            F.broadcast(labels_df.withColumnRenamed("v", id_col)), id_col, "left"
        ).select(
            id_col,
            F.coalesce("label", F.col(id_col)).alias("component_id"),
        )
    both = edges.select(
        F.col("id_a").alias("v"), F.col("id_b").alias("u")
    ).unionByName(
        edges.select(F.col("id_b").alias("v"), F.col("id_a").alias("u"))
    ).localCheckpoint()  # the loop re-reads this every round — keep it flat
    n_edge_rows = 2 * n_edges
    small = n_edge_rows <= broadcast_edge_threshold
    if small:
        parts = max(1, n_edge_rows // 250_000 + 1)
        if parts < both.rdd.getNumPartitions():
            both = both.coalesce(parts).localCheckpoint()
    # propagate only over edge-touched vertices: the frontier is O(edges),
    # not O(corpus) — untouched vertices are singletons by definition and
    # join back at the end
    labels = (
        both.select("v")
        .distinct()
        .select(F.col("v"), F.col("v").alias("label"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        lbl_u = labels.withColumnRenamed("v", "u")
        neighbor_min = (
            both.join(F.broadcast(lbl_u) if small else lbl_u, "u")
            .groupBy("v")
            .agg(F.min("label").alias("_nl"))
        )
        labels = (
            labels.join(
                F.broadcast(neighbor_min) if small else neighbor_min, "v", "left"
            )
            .select(
                "v",
                F.least(F.col("label"), F.coalesce("_nl", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return vertices.select(F.col(id_col).cast("long").alias(id_col)).join(
        labels.withColumnRenamed("v", id_col), id_col, "left"
    ).select(
        id_col,
        F.coalesce("label", F.col(id_col)).alias("component_id"),
    )


def mirror_merged_flags(
    edges: DataFrame,
    base_vertices: DataFrame,
    flag: str,
    id_col: str = "doc_id",
    offset: int = 1_000_000,
    driver_edge_threshold: int = 500_000,
) -> DataFrame:
    """Per-base-vertex "did CC merge v with its mirror v+offset?" flag —
    the output relation of the engine-parity certificates. Semantically
    identical to ``connected_components(edges, mirrored_vertices)``
    followed by a self-join on ``a.id + offset == b.id`` and
    ``a.component_id == b.component_id``, but in the tiny-edge regime
    (the one the driver union-find already owns — same threshold) it
    answers from the label map directly: one pruned scan of the base
    vertex ids plus two broadcast joins of the edge-touched label
    relation, instead of materializing corpus-sized labels twice and
    self-joining them (r13, measured 13.3 → 11.0 s on the parity
    certificate at sf0.1). An untouched vertex is a singleton labelled
    by its own id — ``coalesce`` reproduces CC's join-back exactly, so
    the flag values are identical in both regimes. Past the threshold
    it falls back to the full :func:`connected_components` + self-join
    shape, keeping the certificate's scale behavior the same as the
    pipeline it certifies."""
    edges = edges.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    ).localCheckpoint()
    ids = base_vertices.select(F.col(id_col).cast("long").alias(id_col))
    if edges.count() > driver_edge_threshold:
        mirrored = ids.unionByName(
            ids.select((F.col(id_col) + offset).alias(id_col))
        )
        labels = connected_components(edges, mirrored, id_col)
        return (
            labels.alias("a")
            .join(
                labels.alias("b"),
                F.col(f"a.{id_col}") + offset == F.col(f"b.{id_col}"),
            )
            .select(
                F.col(f"a.{id_col}").alias(id_col),
                (F.col("a.component_id") == F.col("b.component_id")).alias(
                    flag
                ),
            )
        )
    lab = _driver_union_find(edges)
    return (
        ids.join(
            F.broadcast(
                lab.select(
                    F.col("v").alias(id_col), F.col("label").alias("_lb")
                )
            ),
            id_col,
            "left",
        )
        .join(
            F.broadcast(
                lab.select(
                    (F.col("v") - offset).alias(id_col),
                    F.col("label").alias("_lm"),
                )
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            (
                F.coalesce(F.col("_lb"), F.col(id_col))
                == F.coalesce(F.col("_lm"), F.col(id_col) + offset)
            ).alias(flag),
        )
    )


# --- Stored standing-corpus banding (L68) ------------------------------------
# Build-once/probe-forever near-dup admission (VERDICT r9 #1), in the
# stored layout of ``llm/layout.py`` (family ``layout.TEXT``): the
# ``banding`` relation capped at ``max_bucket`` rows per (band, band_key)
# in doc_id order (the cap rule the inline L66 query applies), the
# UNCAPPED ``fingerprints`` exact-dup backstop (identical arrivals stay
# cap-proof), the ``shingle_hashes`` the Jaccard verify reads (the
# verify never touches standing TEXT again), and ``_meta.json``, whose
# parameters admission ADOPTS for the arrival side so the two sides
# cannot drift.

NEARDUP_LAYOUT_PARAMS = {
    "num_hashes": 8,
    "shingle_k": 5,
    "bands": 4,
    "rows_per_band": 2,
    "max_bucket": 8,
    "hash_engine": "md5",
    "version": 1,
}


def _neardup_relations(
    df: DataFrame,
    params: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(banding-uncapped, fingerprints, shingle_hashes) for one side —
    shared by the layout writer, the append path, and the arrival side of
    admission so the two sides can never drift."""
    return _neardup_projections(_neardup_rows(df, params, text_col, id_col))


def _neardup_rows(
    df: DataFrame,
    params: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per document: ``(doc_id, *keep_cols, fp, bands, sh)`` —
    the md5 fingerprint, the LSH bands (``array<struct<band,
    band_key>>``) and the shingle-hash array. The only place the layout's
    per-document expressions are written: the layout writer, the append
    path and the admission arrival ledger all project from it."""
    text = F.col(text_col)
    rows = df.select(
        F.col(id_col).alias("doc_id"),
        *keep_cols,
        F.md5(text).alias("fp"),
        F.transform(
            F.array_distinct(shingles(text, params["shingle_k"])),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "long"
            ),
        ).alias("sh"),
        text.alias("_text"),
    )
    sig = minhash_signatures(
        rows,
        text_col="_text",
        id_col="doc_id",
        num_hashes=params["num_hashes"],
        shingle_k=params["shingle_k"],
        keep_cols=(*keep_cols, "fp", "sh"),
        hash_engine=params["hash_engine"],
    )
    bands = _band_structs(
        [f"m{i}" for i in range(params["num_hashes"])],
        params["bands"],
        params["rows_per_band"],
    )
    return sig.select("doc_id", *keep_cols, "fp", bands.alias("bands"), "sh")


def _neardup_projections(rows: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(banding-uncapped, fingerprints, shingle_hashes) of
    :func:`_neardup_rows` output — the three stored relations' shapes.
    ``bands`` is never empty, so ``inline_outer`` yields what ``inline``
    would; a non-outer generator would make the optimizer infer a
    ``size(bands) > 0`` filter and push it below the projection, where
    it evaluates the whole MinHash expression a second time."""
    banded = rows.select("doc_id", F.inline_outer("bands"))
    return banded, rows.select("doc_id", "fp"), rows.select("doc_id", "sh")


def write_neardup_banding_layout(
    df: DataFrame,
    path: str,
    params: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the standing-corpus near-dup state (one-time build; see
    the layout comment above). Admission then probes this layout without
    any corpus-sized recompute."""
    p = {**NEARDUP_LAYOUT_PARAMS, **(params or {})}
    banded, fp, sh = _neardup_relations(df, p, text_col, id_col)
    layout.write(path, layout.TEXT, {
        "banding": layout.cap(banded, layout.TEXT, p["max_bucket"]),
        "fingerprints": fp,
        "shingle_hashes": sh,
    }, p)


def neardup_admission(
    spark,
    path: str,
    arrivals: DataFrame,
    tau: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit an arrival batch against the STORED standing corpus:
    (doc_id, admitted, best_jaccard), admitted = no standing near-dup at
    Jaccard >= tau.

    Scale shape — per batch, only the ARRIVAL side is computed: arrival
    bands and fingerprints broadcast against the stored (capped) banding
    and fingerprint relations; Jaccard verification joins the few
    candidates against the stored shingle sets. Zero windows, zero
    corpus-sized recompute — the plan-quality test pins the admission
    plan Window-free (the inline L66 twin carries the cap window every
    batch)."""
    p, stored_band, stored_fp, stored_sh = layout.read(spark, path, layout.TEXT)
    return _neardup_admission_body(
        p, stored_band, stored_fp, stored_sh, arrivals, tau, text_col, id_col
    )


def _neardup_admission_body(
    p: dict,
    stored_band: DataFrame,
    stored_fp: DataFrame,
    stored_sh: DataFrame,
    arrivals: DataFrame,
    tau: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`neardup_admission` against CALLER-HELD stored relations —
    the split that lets a streaming AdmissionSession probe persisted
    in-memory copies of the layout instead of re-reading the parquet
    dirs every micro-batch (VERDICT r11 #5). Semantics identical by
    construction: the wrapper above IS this body over a fresh read."""
    a_band, a_fp, a_sh = _neardup_relations(arrivals, p, text_col, id_col)
    cand_lsh = (
        a_band.alias("n")
        .hint("broadcast")
        .join(
            stored_band.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col("o.doc_id").alias("id_b"),
        )
    )
    cand_fp = (
        a_fp.alias("n")
        .hint("broadcast")
        .join(stored_fp.alias("o"), F.col("n.fp") == F.col("o.fp"))
        .select(
            F.col("n.doc_id").alias("id_a"), F.col("o.doc_id").alias("id_b")
        )
    )
    # NO distinct before verify: a pair surfacing from several bands (or
    # from both the LSH and fingerprint legs) verifies to the SAME
    # jaccard, and max() over a multiset equals max() over its set — so
    # dedup here buys ~2% less verify work for a whole extra shuffle
    # (measured at sf0.1: 13019 -> 12809 candidates, distinct cost 1.1 s)
    cand = cand_lsh.unionByName(cand_fp)
    # The verify join MUST build on the candidate side (r13, guide §3.1):
    # un-hinted, the planner auto-broadcast the STANDING shingle relation
    # (its parquet size estimate sits under the threshold at bench SFs) —
    # a per-batch BroadcastExchange over the whole standing corpus, and
    # past the threshold it would degrade to shuffling the standing
    # arrays every micro-batch. The candidate⊳arrival-sh side is
    # arrival-sized (bounded by the stored layout's bucket caps — the
    # same contract that already broadcasts a_band/a_fp/a_sh), so
    # pinning the build there keeps the standing side a streamed scan:
    # arrival-side-only compute at any corpus size.
    ver = (
        cand.join(a_sh.alias("x").hint("broadcast"), cand.id_a == F.col("x.doc_id"))
        .hint("broadcast")
        .join(stored_sh.alias("y"), cand.id_b == F.col("y.doc_id"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("x.sh", "y.sh"))
                / F.size(F.array_union("x.sh", "y.sh"))
            ).alias("jaccard"),
        )
    )
    best = ver.groupBy("id_a").agg(
        F.max(F.round("jaccard", 6)).alias("best_jaccard")
    )
    base = arrivals.select(F.col(id_col).alias("doc_id"))
    return base.join(best, base.doc_id == best.id_a, "left").select(
        "doc_id",
        F.coalesce(F.col("best_jaccard") < tau, F.lit(True)).alias(
            "admitted"
        ),
        "best_jaccard",
    )


def append_neardup_banding(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold an admitted batch INTO the stored layout (the L64 pattern:
    compressed appends, probes stay valid during ingest). Fingerprints
    and shingle sets append wholesale; banding appends cap-aware
    (:func:`~.layout.cap_increment`: the budget each touched bucket has
    left is filled in doc_id order), so a bucket never exceeds
    ``max_bucket`` across any number of appends."""
    p, stored_band, _, _ = layout.read(spark, path, layout.TEXT)
    banded, fp, sh = _neardup_relations(new_docs, p, text_col, id_col)
    layout.append(spark, path, layout.TEXT, {
        "banding": layout.cap_increment(
            banded, stored_band, p["max_bucket"], layout.TEXT
        ),
        "fingerprints": fp,
        "shingle_hashes": sh,
    })


# ---------------------------------------------------------------------------
# Bloom-filter membership admission (L73)
# ---------------------------------------------------------------------------
# The cheapest standing-corpus admission gate of all: the corpus collapses
# to a bitmap of ~bits_per_key bits per distinct fingerprint (6 bits/key +
# k=4 probes ≈ 5-6% false positives, zero false NEGATIVES — an arrival
# whose exact twin is standing can never slip through), so a 10^10-doc
# corpus is ~7.5 GB of filter instead of terabytes of fingerprint
# relation. Admission touches the corpus ZERO times: the arrival batch
# probes the word relation (broadcast when it fits, word-id equi-join
# when it doesn't); a bloom-positive arrival either drops (dedup-greedy)
# or falls through to an exact/near-dup check on the tiny positive
# subset. Filter union is bitwise OR, so appends are row appends folded
# by an associative bit_or at read time (compact_bloom_layout restores
# one row per word). Reference analog: none — the reference never
# rescans history per message (Stream/Partition.cpp:174-223 keeps
# standing state); this is that idea for content-defined identity.


def bloom_positions(fp: Column, k: int, m_bits: Column) -> Column:
    """Array of ``k`` bit positions for one fingerprint via
    Kirsch-Mitzenmaier double hashing: pos_i = (h1 + i·h2) mod m, with
    h1/h2 two disjoint 60-bit slices of ONE md5 (hex chars 1-15 and
    17-31) and h2 forced into [1, m-1] so a zero stride can never
    collapse the k probes onto one bit. One digest per key regardless of
    k — at k=22 (the decontamination sizing) this is 22× less hashing
    than independent per-probe digests, with asymptotically the same
    false-positive rate (Kirsch & Mitzenmaier 2006). Replays verbatim in
    DuckDB: h1 = ('0x'||substr(md5(f),1,15))::BIGINT % m,
    h2 = ('0x'||substr(md5(f),17,15))::BIGINT % (m-1) + 1,
    pos_i = (h1 + i·h2) % m (no overflow: h1 + k·h2 ≤ (k+1)·m)."""
    h = F.md5(fp)
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % m_bits
    h2 = (
        F.conv(F.substring(h, 17, 15), 16, 10).cast("long") % (m_bits - 1)
    ) + 1
    return F.array(*[(h1 + F.lit(i) * h2) % m_bits for i in range(k)])


def bloom_positions_xx(fp: Column, k: int, m_bits: Column) -> Column:
    """The PRODUCTION position family: same Kirsch-Mitzenmaier scheme,
    h1/h2 from two JVM-native xxhash64 evaluations (seeded by an extra
    literal column) instead of md5 hex slices — the L2/L53 engine split:
    md5 is the oracle-replayable twin, xxhash64 is what a 100 TB filter
    build actually runs (no hex-string materialization per key). The
    no-false-negative guarantee is engine-independent (certified by
    bloom_engine_parity + the fuzz/corpus pytests); only the false-
    positive SET differs between engines."""
    h1 = F.pmod(F.xxhash64(fp), m_bits)
    h2 = F.pmod(F.xxhash64(fp, F.lit(1)), m_bits - 1) + 1
    return F.array(*[(h1 + F.lit(i) * h2) % m_bits for i in range(k)])


_BLOOM_ENGINES = {"md5": bloom_positions, "xxhash64": bloom_positions_xx}


def bloom_build(
    df: DataFrame,
    fp_col: str = "_fp",
    k: int = 4,
    bits_per_key: int = 6,
    hash_engine: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Build the filter over ``df``'s fingerprint column. Returns
    ``(params, words)``: a 1-row relation (n_keys, m_bits) and the
    bitmap as (word_idx, word) — one BIGINT per 63 bits (bit 63 is never
    used, so ``1 << bit`` stays in signed-BIGINT range on every engine —
    DuckDB raises on the 1<<63 overflow Java wraps), rows absent where
    no bit is set. m_bits derives from the key count IN-PLAN
    (bits_per_key per distinct key, rounded up to a word), so the build
    is one distinct + one word-keyed bit_or aggregation, both map-side
    combining; nothing touches the driver."""
    params = df.agg(F.count_distinct(F.col(fp_col)).alias("n_keys")).select(
        "n_keys", _bloom_m_bits(F.col("n_keys"), bits_per_key).alias("m_bits")
    )
    return params, _bloom_fp_words(df, fp_col, params, k, hash_engine)


def _bloom_m_bits(n_keys: Column, bits_per_key: int) -> Column:
    """The filter width for ``n_keys`` distinct keys: ``bits_per_key``
    bits per key, rounded up to a whole 63-bit word."""
    return F.greatest(
        F.lit(63), (F.ceil(n_keys * bits_per_key / 63) * 63).cast("long")
    )


def _bloom_fp_words(
    df: DataFrame, fp_col: str, params: DataFrame, k: int, hash_engine: str
) -> DataFrame:
    """The bitmap rows setting the k positions of each distinct
    fingerprint in ``df`` at ``params``' ``m_bits``."""
    return _bloom_word_rows(
        df.select(F.col(fp_col).alias("_fp"))
        .distinct()
        .crossJoin(F.broadcast(params.select("m_bits"))),
        _BLOOM_ENGINES[hash_engine](F.col("_fp"), k, F.col("m_bits")),
    )


def _pos_word_idx() -> Column:
    """The bitmap word of bit position ``pos``."""
    return F.expr("pos div 63")


def _pos_mask() -> Column:
    """Position ``pos``'s bit within its word."""
    return F.expr("shiftleft(1L, cast(pos % 63 as int))")


def _bloom_word_rows(df: DataFrame, positions: Column) -> DataFrame:
    """The bitmap ``(word_idx, word)`` rows setting every position in the
    ``positions`` arrays of ``df`` — one word-keyed ``bit_or``."""
    return (
        df.select(F.explode(positions).alias("pos"))
        .select(_pos_word_idx().alias("word_idx"), _pos_mask().alias("mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def _bloom_key_rows(df: DataFrame, fp_col: str, params: DataFrame) -> DataFrame:
    """The params increment ``(n_keys, m_bits)`` for the distinct
    fingerprints in ``df``, at the stored ``m_bits``."""
    return (
        df.agg(F.count_distinct(F.col(fp_col)).alias("n_keys"))
        .crossJoin(F.broadcast(params.select("m_bits")))
        .select("n_keys", "m_bits")
    )


def bloom_membership(
    df: DataFrame,
    params: DataFrame,
    words: DataFrame,
    fp_col: str = "_fp",
    id_col: str = "doc_id",
    k: int = 4,
    hash_engine: str = "md5",
) -> DataFrame:
    """Per-row membership test: (id_col, bloom_positive). A row is
    positive iff ALL k probed bits are set; a probe landing in an absent
    word is an unset bit (coalesce FALSE), which is what makes false
    negatives structurally impossible — every bit a standing key set IS
    in the words relation. The words side broadcasts (word relation is
    ~n_keys/10 rows); the only shuffle is the arrival-batch-sized
    bool_and groupBy."""
    probes = (
        df.select(F.col(id_col), F.col(fp_col).alias("_fp"))
        .crossJoin(F.broadcast(params.select("m_bits")))
        .select(
            id_col,
            F.explode(
                _BLOOM_ENGINES[hash_engine](F.col("_fp"), k, F.col("m_bits"))
            ).alias("pos"),
        )
    )
    return (
        probes.join(
            F.broadcast(words),
            _pos_word_idx() == words["word_idx"],
            "left",
        )
        .select(
            id_col,
            F.coalesce(
                F.col("word").bitwiseAND(_pos_mask())
                != 0,
                F.lit(False),
            ).alias("_hit"),
        )
        .groupBy(id_col)
        .agg(F.bool_and("_hit").alias("bloom_positive"))
    )


def write_bloom_layout(
    df: DataFrame,
    path: str,
    fp_col: str = "_fp",
    k: int = 4,
    bits_per_key: int = 6,
    hash_engine: str = "md5",
) -> None:
    """Persist the filter: words parquet + params parquet + _meta.json
    (k, bits_per_key, hash_engine — the probe MUST use the stored k AND
    the stored position engine: mixing engines across build/append/probe
    would silently reintroduce the false negatives the family advertises
    as structurally impossible, so every stored-layout helper reads the
    engine from _meta.json and raises on a caller mismatch). m_bits is
    fixed at build time from the initial key count; appends reuse it, so
    the false-positive rate degrades gracefully (and measurably, via the
    stored n_keys) as the corpus outgrows the initial sizing — resize =
    rebuild, exactly like production Blooms."""
    if hash_engine not in _BLOOM_ENGINES:
        raise ValueError(f"unknown hash_engine {hash_engine!r}")
    from pyspark.sql import Observation

    from ..streaming.stateful import _release

    # The distinct fingerprints are pinned once and counted by the same
    # job, so n_keys and m_bits are literals: a lazy params relation would
    # re-aggregate the corpus inside the words write, which needs m_bits.
    obs = Observation()
    keys = (
        df.select(F.col(fp_col).alias("_fp"))
        .distinct()
        .observe(obs, F.count("_fp").alias("n_keys"))
        .localCheckpoint()
    )
    try:
        n_keys = F.lit(obs.get["n_keys"]).cast("long")
        m_bits = _bloom_m_bits(n_keys, bits_per_key)
        params = df.sparkSession.range(1, numPartitions=1).select(
            n_keys.alias("n_keys"), m_bits.alias("m_bits")
        )
        words = _bloom_word_rows(
            keys, _BLOOM_ENGINES[hash_engine](F.col("_fp"), k, m_bits)
        )
        layout.write(
            path, layout.BLOOM, {"words": words, "params": params},
            {"k": k, "bits_per_key": bits_per_key, "hash_engine": hash_engine},
            mode="overwrite",
        )
    finally:
        _release(keys)


def read_bloom_layout(spark, path: str) -> tuple[dict, DataFrame, DataFrame]:
    """(meta, params, words). The words relation folds any appended
    generations with an associative bit_or — one aggregation over a
    relation ~64x smaller than the key count, so probing during ingest
    stays cheap; run :func:`compact_bloom_layout` to restore one row per
    word after a burst of appends. ``meta`` always carries
    ``hash_engine`` (pre-engine layouts written before the field existed
    default to "md5", the only engine they could have been built with).
    If a crashed compaction left a final dir missing, the rename-aside
    ``.old`` copy is restored first — the stored filter is never lost."""
    path = resolve_bloom_generation(path)
    meta, words_rows, params_rows = layout.read(spark, path, layout.BLOOM)
    meta.setdefault("hash_engine", "md5")
    params = params_rows.agg(
        F.sum("n_keys").alias("n_keys"), F.max("m_bits").alias("m_bits")
    )
    words = words_rows.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    return meta, params, words


def append_bloom(
    spark,
    path: str,
    new_df: DataFrame,
    fp_col: str = "_fp",
    hash_engine: str | None = None,
) -> None:
    """Fold a new batch into the stored filter: bloom union is bitwise
    OR, so an append writes the BATCH's words wholesale (no
    read-modify-write of the standing bitmap) and the read side merges
    generations associatively. n_keys appends as its own row and sums at
    read time — an upper bound under cross-batch duplicates, which only
    OVERSTATES the occupancy estimate (conservative for FPR tracking).
    The position engine comes from the layout's _meta.json — appends can
    never mix engines with the standing bitmap; passing ``hash_engine``
    explicitly asserts the expectation and raises on mismatch."""
    path = resolve_bloom_generation(path)
    meta, params, _ = read_bloom_layout(spark, path)
    if hash_engine is not None and hash_engine != meta["hash_engine"]:
        raise ValueError(
            f"stored bloom layout at {path} was built with "
            f"hash_engine={meta['hash_engine']!r}; appending with "
            f"{hash_engine!r} would mix position engines and create "
            "false negatives — rebuild the layout to change engines"
        )
    layout.append(spark, path, layout.BLOOM, {
        "words": _bloom_fp_words(
            new_df, fp_col, params, meta["k"], meta["hash_engine"]
        ),
        "params": _bloom_key_rows(new_df, fp_col, params),
    })


def compact_bloom_layout(spark, path: str) -> None:
    """Fold appended generations back to one row per word (and one
    params row): read-side merge cost returns to a single pass. Each
    relation is staged to ``_compact_*`` and published by the layout's
    rename-aside swap (``layout._swap_aside``), which
    :func:`read_bloom_layout` recovers from after a crash, so the stored
    filter can never be destroyed mid-swap."""
    import os

    path = resolve_bloom_generation(path)
    _, params, words = read_bloom_layout(spark, path)
    for name, df in (("words", words), ("params", params)):
        staged = os.path.join(path, f"_compact_{name}")
        df.write.mode("overwrite").parquet(staged)
        layout._swap_aside(staged, os.path.join(path, name))


def resolve_bloom_generation(path: str) -> str:
    """The directory the layout helpers should operate on: the current
    generation if ``path`` is a generation-stamped root (_current.json
    pointer), else the path itself (flat pre-generation layouts)."""
    import json
    import os

    ptr = os.path.join(path, "_current.json")
    if os.path.exists(ptr):
        with open(ptr) as f:
            return os.path.join(path, json.load(f)["generation"])
    return path


def _publish_bloom_generation(root: str, generation: str) -> None:
    import json
    import os

    tmp = os.path.join(root, "_current.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"generation": generation}, f)
    os.replace(tmp, os.path.join(root, "_current.json"))


def write_bloom_generation(
    df: DataFrame,
    root: str,
    fp_col: str = "_fp",
    k: int = 4,
    bits_per_key: int = 6,
    hash_engine: str = "md5",
) -> str:
    """Write a generation-stamped Bloom layout: the filter lands in
    ``root/gen-NNNNNN`` and ``root/_current.json`` flips to it atomically
    (os.replace) only AFTER the generation is fully written — a reader
    resolves the old generation or the new one, never a half-built
    directory. Returns the generation directory."""
    import os

    os.makedirs(root, exist_ok=True)
    existing = sorted(
        n for n in os.listdir(root)
        if n.startswith("gen-") and n[4:].isdigit()
    )
    gen = f"gen-{(int(existing[-1][4:]) + 1) if existing else 1:06d}"
    write_bloom_layout(
        df, os.path.join(root, gen), fp_col, k, bits_per_key, hash_engine
    )
    _publish_bloom_generation(root, gen)
    return os.path.join(root, gen)


def rotate_bloom_layout(
    spark,
    root: str,
    retained: DataFrame,
    fp_col: str = "_fp",
    keep_generations: int = 1,
) -> str:
    """The Bloom gate's FORGET operation (a filter can't delete bits, so
    deletion = rebuild): construct the NEXT generation from the RETAINED
    fingerprint relation — the standing corpus minus GDPR deletes,
    licence churn, TTL'd sources — while the current generation keeps
    serving, then flip the pointer. Sizing and hash engine carry over
    from the serving generation's _meta.json (m_bits re-derives from the
    retained count, so rotation is also the resize path the append
    contract forbids in place). ``keep_generations`` previous
    generations survive for concurrent readers; older ones are pruned.
    Post-rotation: every retained key still probes positive (the
    structural no-FN guarantee, now over the new bitmap) and a deleted
    key is admissible again up to the ordinary false-positive rate."""
    import os
    import shutil

    meta, _, _ = read_bloom_layout(spark, root)
    gen_dir = write_bloom_generation(
        retained,
        root,
        fp_col,
        k=meta["k"],
        bits_per_key=meta["bits_per_key"],
        hash_engine=meta["hash_engine"],
    )
    gens = sorted(
        n for n in os.listdir(root)
        if n.startswith("gen-") and n[4:].isdigit()
    )
    for stale in gens[: max(len(gens) - 1 - keep_generations, 0)]:
        shutil.rmtree(os.path.join(root, stale))
    return gen_dir


# Above this stored-word count the literal-map probe stops being the
# right plan: ~100k map literals is ~1.6 MB of expression tree (codegen
# pressure grows linearly from there — a ~1M-gram benchmark at 32
# bits/key is ~500k words), while the broadcast word-join form carries
# the words as DATA. Below it, the literal form wins outright: pure
# whole-stage codegen, no explode, no shuffle.
BLOOM_LITERAL_WORD_CAP = 100_000


def count_bloom_hits(
    df: DataFrame,
    words: DataFrame,
    m_bits: int,
    k: int,
    grams_col: str = "sh",
    id_col: str = "doc_id",
    hash_engine: str = "md5",
    literal_word_cap: int = BLOOM_LITERAL_WORD_CAP,
    n_words: int | None = None,
) -> DataFrame:
    """Per-row count of ``grams_col`` array elements that probe
    bloom-positive against the ``words`` bitmap — CHOOSING the probe
    form by the stored word count (the round-10 verdict's auto-select):

    - ``words.count() <= literal_word_cap``: collect the words into
      :func:`bloom_literal_probe`'s literal map and count hits with a
      codegen array filter — no explode, no join, no shuffle.
    - above the cap: the broadcast word-JOIN form (bloom_membership's
      shape) — explode grams, derive the k positions, left-join the
      broadcast words relation on word_idx, bool_and per gram, count
      positives per row. Slower per gram (the explode was measured 9.1 s
      vs 2.4 s at sf0.1) but its plan size is O(1) in the benchmark.

    Both forms compute the identical relation (pytest pins equality at
    the boundary) — the cap is a PLAN decision, never a semantics one.
    The output keeps every non-gram input column (they must be
    functionally dependent on ``id_col``; in the join regime they ride
    F.first through the aggregations, so keep the input projection
    narrow there), replaces ``grams_col`` with ``n_bloom_hits``, and
    rows whose gram array is empty yield n_bloom_hits = 0.

    ``n_words`` (optional) short-circuits the chooser for callers that
    already know the stored word count (e.g. from a layout's params —
    ADVICE r11: repeat probes over the same filter shouldn't pay a
    count() job per call). Without it the chooser runs ONE action — a
    limit(cap+1) collect whose rows double as the literal map when they
    fit — instead of the old count()-then-collect() pair."""
    keep = [c for c in df.columns if c not in (grams_col, id_col)]
    wrows = None
    if n_words is None:
        head = words.limit(literal_word_cap + 1).collect()
        n_words = len(head)
        if n_words <= literal_word_cap:
            wrows = head  # ≤ cap ⇒ the limited collect saw EVERY word
    if n_words <= literal_word_cap:
        if wrows is None:
            wrows = words.collect()
        wrows = [(int(r["word_idx"]), int(r["word"])) for r in wrows]
        hit = bloom_literal_probe(wrows, m_bits, k, hash_engine)
        return df.select(
            id_col,
            *keep,
            F.size(F.filter(F.col(grams_col), hit))
            .cast("long")
            .alias("n_bloom_hits"),
        )
    # posexplode, not explode: a repeated gram in the array counts once
    # PER OCCURRENCE in the literal regime (size of a filtered array),
    # so the join regime groups by (id, position), never by gram value
    probes = df.select(
        id_col,
        *keep,
        F.posexplode_outer(F.col(grams_col)).alias("_i", "_g"),
    ).select(
        id_col,
        *keep,
        "_i",
        "_g",
        F.explode_outer(
            F.when(
                F.col("_g").isNotNull(),
                _BLOOM_ENGINES[hash_engine](
                    F.col("_g"), k, F.lit(m_bits).cast("long")
                ),
            )
        ).alias("pos"),
    )
    return (
        probes.join(
            F.broadcast(words),
            _pos_word_idx() == words["word_idx"],
            "left",
        )
        .select(
            id_col,
            *keep,
            "_i",
            "_g",
            (
                F.col("_g").isNotNull()
                & F.coalesce(
                    F.col("word").bitwiseAND(_pos_mask())
                    != 0,
                    F.lit(False),
                )
            ).alias("_hit"),
        )
        .groupBy(id_col, "_i")
        .agg(
            F.bool_and("_hit").alias("_all"),
            *[F.first(c).alias(c) for c in keep],
        )
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("_all"), 1).otherwise(0))
            .cast("long")
            .alias("n_bloom_hits"),
            *[F.first(c).alias(c) for c in keep],
        )
        .select(id_col, *keep, "n_bloom_hits")
    )


def bloom_literal_probe(
    words: list[tuple[int, int]],
    m_bits: int,
    k: int,
    hash_engine: str = "md5",
):
    """Build a pure-EXPRESSION membership test from a collected filter:
    returns ``hit(fp_col) -> BooleanColumn`` closing over a literal word
    map (O(benchmark)-sized, the L52 literal-chain move) and the
    Kirsch-Mitzenmaier stride probes — no join, no shuffle, no state.
    Because the probe is stateless narrow expressions, it composes with
    ``readStream`` UNCHANGED: streaming decontamination against a fixed
    benchmark filter is this same closure applied per micro-batch
    (pytest pins stream ≡ batch on identical documents). For filters too
    large for the plan, use :func:`bloom_membership`'s broadcast-join
    form instead. ``hash_engine`` must match the engine the words were
    BUILT with (a stored layout records it in _meta.json) — probing an
    xxhash64 bitmap with md5 positions would produce false negatives."""
    if hash_engine not in _BLOOM_ENGINES:
        raise ValueError(f"unknown hash_engine {hash_engine!r}")
    # r13 (guide §4.1/§1.2): the literal bitmap used to be an F.create_map
    # of 2·n_words F.lit Columns — thousands of py4j round trips to BUILD
    # (measured: the bloom_decontamination query spent 5+ s of its 6.4 s
    # build phase here) and a literal-map element_at is a LINEAR scan per
    # probe at EVAL time (n_words/2 comparisons × k probes × grams/doc).
    # The engine's filters are dense (bits_per_key ~32, k ~22 ⇒ most
    # 63-bit words are non-zero), so the bitmap becomes a DENSE literal
    # ARRAY indexed by word_idx — one F.expr string parse to build, O(1)
    # element_at per probe, absent words explicit 0L. A sparse filter
    # (word count far under m_bits/63 — not produced by bloom_build's
    # sizing but legal input) keeps the map form, still built as one SQL
    # string. (The 63-entry mask array stays: F.shiftleft only accepts a
    # literal shift count, and array element_at on a literal array is
    # O(1) — only the map lookup was a linear scan.)
    ordered = sorted(words)
    n_slots = (int(m_bits) + 62) // 63
    dense = n_slots <= max(4096, 4 * max(1, len(ordered)))
    if dense:
        vals = ["0L"] * n_slots
        for wi, w in ordered:
            vals[int(wi)] = f"{int(w)}L"
        warr = F.expr("array(" + ",".join(vals) + ")")

        def lookup(pos: Column) -> Column:
            return F.element_at(warr, F.floor(pos / 63).cast("int") + 1)
    else:
        wmap = F.expr(
            "map("
            + ",".join(f"{int(wi)}L,{int(w)}L" for wi, w in ordered)
            + ")"
        )

        def lookup(pos: Column) -> Column:
            return F.coalesce(
                F.element_at(wmap, F.floor(pos / 63).cast("long")),
                F.lit(0),
            )

    shifts = F.expr(
        "array(" + ",".join(f"{1 << b}L" for b in range(63)) + ")"
    )

    def hit(fp: Column) -> Column:
        if hash_engine == "md5":
            h = F.md5(fp)
            h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % m_bits
            h2 = (
                F.conv(F.substring(h, 17, 15), 16, 10).cast("long")
                % (m_bits - 1)
            ) + 1
        else:
            h1 = F.pmod(F.xxhash64(fp), F.lit(m_bits))
            h2 = F.pmod(F.xxhash64(fp, F.lit(1)), F.lit(m_bits - 1)) + 1
        tests = []
        for i in range(k):
            pos = (h1 + F.lit(i) * h2) % m_bits
            word = lookup(pos)
            mask = F.element_at(shifts, (pos % 63).cast("int") + 1)
            tests.append(word.bitwiseAND(mask) != 0)
        out = tests[0]
        for t in tests[1:]:
            out = out & t
        return out

    return hit


def compact_neardup_layout(spark, path: str) -> None:
    """Compact every append-grown relation of a near-dup banding layout
    (banding partitions + the fingerprint/shingle backstops)."""
    layout.compact(spark, path, layout.TEXT)
