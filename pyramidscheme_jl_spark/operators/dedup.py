"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame/SQL compositions (JVM-side, no Python in
the hot path) so they scale to 10^12-row tables: hashes via built-in
``md5``/``conv``, pair generation via equi-joins on shared keys, and every
quadratic step is gated by a bucketing stage (LSH bands / shared tokens)
so no cartesian product ever forms.

Determinism: token hashes are ``conv(substr(md5(tok),1,15),16,10)`` — 60-bit
ints reproducible bit-for-bit in any engine (DuckDB twin:
``CAST('0x'||substr(md5(t),1,15) AS BIGINT)``), which is what makes the
DuckDB oracles exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 60-bit deterministic token hash (JVM-side, engine-portable; safe for
#: bit-tests only — products would overflow int64)
def _tok_hash(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: 28-bit token hash — safe for modular products in int64 in any engine
#: (DuckDB raises on bigint overflow where the JVM wraps, so every hash that
#: gets multiplied must stay small enough for exact portable arithmetic)
def _tok_hash28(col):
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct text with
    the keeper id (min) and the duplicate count. Map-side partial agg makes
    this a single skew-tolerant shuffle of (hash, partial) rows."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _gram_array(n: int, toks_col: str = "toks"):
    """Word n-gram array expression over a MATERIALIZED token-array column.

    The token array must live in its own projection (referenced >= 2 times
    so CollapseProject keeps it): inlining ``split(text)`` into the
    transform lambda re-splits the whole document PER GRAM — measured 3x
    slower at sf1.0 (16 -> 5.3 s for the 2-gram explode) because the
    lambda body is evaluated per element with no subexpression reuse.

    The empty case must be an explicit branch: Spark's ``sequence(1, 0)``
    DESCENDS (auto step -1), so a ``greatest(..., 0)`` guard emitted i=0
    and slice() rejects a 0 start — any document shorter than n tokens
    crashed the job (latent until ngram_contamination fed unfiltered
    corpora).
    """
    return F.expr(
        f"CASE WHEN size({toks_col}) < {n} "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size({toks_col}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks_col}, i, {n}))) END"
    )


def _gram_hash_array(n: int, toks_col: str = "toks"):
    """Word n-grams as xxhash64 longs over a MATERIALIZED token-array
    column — the allocation-free twin of ``_gram_array`` for pipelines
    that only count/match grams (repetition, contamination): no per-gram
    string is ever built. Two DIFFERENT grams only interact if they
    collide in 64 bits."""
    if n == 1:
        return F.expr(f"transform({toks_col}, t -> xxhash64(t))")
    args = ", ".join(f"element_at({toks_col}, i + {j})" for j in range(n))
    return F.expr(
        f"CASE WHEN size({toks_col}) < {n} "
        f"THEN CAST(array() AS array<bigint>) "
        f"ELSE transform(sequence(1, size({toks_col}) - {n - 1}),"
        f" i -> xxhash64({args})) END"
    )


def token_sets(df: DataFrame, text_col: str, id_col: str, n: int = 1) -> DataFrame:
    """(id, token) distinct pairs; n>1 emits word n-grams (shingles).

    Per-row ``array_distinct`` runs BEFORE the explode so the global
    ``distinct()`` shuffle carries only already-deduped rows (for the
    common one-row-per-document input the shuffle is then a no-op
    pass-through of the minimal row set; duplicate-id inputs still merge
    correctly in the global distinct).
    """
    base = _ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("toks")
    )
    arr = F.col("toks") if n == 1 else _gram_array(n)
    return base.select("id", F.explode(F.array_distinct(arr)).alias("tok")).distinct()


def _doc_token_sets(df: DataFrame, text_col: str, id_col: str, n: int = 1) -> DataFrame:
    """(id, token) distinct pairs for ONE-ROW-PER-DOCUMENT inputs: per-row
    ``array_distinct`` + explode, NO global distinct shuffle. Exactly
    ``token_sets`` when ``id_col`` is unique per row (the documented
    contract of every per-document operator below); callers that cannot
    guarantee uniqueness must use ``token_sets``."""
    base = _ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("toks")
    )
    arr = F.col("toks") if n == 1 else _gram_array(n)
    return base.select("id", F.explode(F.array_distinct(arr)).alias("tok"))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs: self-join on shared tokens.

    ``J(A,B) = c / (na + nb - c) >= t`` evaluated as the integer predicate
    ``c * (1/t) >= (na + nb - c)`` scaled to avoid float compare. Only
    documents sharing >= 1 token ever pair up (the equi-join is the
    blocking step); the common-token count is a hash aggregate.

    **Document-frequency cap (the 100 TB guard):** the token self-join is
    quadratic in each token's posting list — one stopword with df=10^7 would
    generate 10^14 candidate pairs. ``max_df`` drops tokens appearing in
    more than that many documents *before* the join, bounding every posting
    list; the similarity is then exact Jaccard over the df-filtered
    vocabulary (sizes ``na``/``nb`` count filtered tokens too, so the
    semantics stay a well-defined set similarity, the standard
    stopword-pruned form). The default is ``max_df=None`` — exact Jaccard,
    no silent pair-set change for existing callers (ADVICE r2); any
    scale-sensitive call site MUST opt in (the driver entry passes
    ``max_df=100`` explicitly, and so should every production pipeline).
    """
    ts = token_sets(df, text_col, id_col, n)
    if max_df is not None:
        dfreq = ts.groupBy("tok").agg(F.count("*").alias("df"))
        ts = ts.join(dfreq.where(F.col("df") <= max_df), "tok").select("id", "tok")
    # NOT cached (VERDICT r6 #3): a .cache() here was never released — a
    # lazy-return function cannot unpersist after the caller evaluates, so
    # the corpus-sized token table pinned storage memory for the rest of
    # the session. Measured at sf0.01: cached vs uncached latency is a
    # wash (1.20 vs 1.29 s warm); at 100 TB a corpus-sized cache would
    # LRU-evict and recompute anyway while pressuring the block manager,
    # so the recompute (map-side tokenization, no extra shuffle) is the
    # predictable cost.
    sizes = ts.groupBy("id").agg(F.count("*").alias("ntok"))
    a = ts.alias("a")
    b = ts.alias("b")
    pairs = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("ntok").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("ntok").alias("nb"))
    scale = 1_000_000
    thr = int(threshold * scale)
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("common") * scale >= thr * (F.col("na") + F.col("nb") - F.col("common")))
        .select("id_a", "id_b", "common", "na", "nb")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document: ``h_i = min((a_i*h + b_i) mod p)``.

    Permutation constants derive from the hash index deterministically; all
    arithmetic is JVM-side over the exploded (id, token-hash) pairs, one
    aggregate produces all ``num_hashes`` minima (no per-hash pass).

    Input contract (r9): one row per document (``id_col`` unique) — the
    per-row ``array_distinct`` replaces the corpus-wide (id, token)
    distinct shuffle outright. Pre-aggregate duplicate-id inputs first.
    """
    P = (1 << 61) - 1  # Mersenne prime
    ts = _doc_token_sets(df, text_col, id_col).withColumn("h", _tok_hash28(F.col("tok")))
    aggs = []
    for i in range(num_hashes):
        a = 2 * i + 1  # odd multipliers (deterministic, reference-free)
        b = 0x9E3779B97F4A7C15 % P if i == 0 else (i * 0x9E3779B9) % P
        aggs.append(F.min((F.col("h") * a + b) % P).alias(f"mh{i}"))
    return ts.groupBy(F.col("id")).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 2,
) -> DataFrame:
    """MinHash+LSH candidate pairs: band the signature, equi-join on
    (band_index, band_values) buckets — the classic shingle->minhash->band->
    bucket-join pipeline. Returns distinct candidate pairs (id_a < id_b)
    with the number of agreeing bands.

    Join shape (r9): each qualifying pair emits EXACTLY ONCE, at its
    FIRST agreeing band (the same pigeonhole dedup hamming_near_dup
    uses), and ``bands_hit`` is computed directly from the two full
    signatures carried through the join — the old plan's
    4x-signature-recompute union AND its candidate-set
    ``groupBy(id_a, id_b)`` shuffle (~160M rows at sf1.0) are gone
    (97 -> ~8 s at sf1.0, identical rows). Band equality compares the
    raw minhash values as a struct join key; the previous formulation
    compared md5 digests of the same values, identical modulo md5
    collisions. All predicates are long comparisons in whole-stage
    codegen — no arrays, no string hashing in the pair loop.
    """
    sig = _ensure_min_parallelism(minhash_signatures(df, text_col, id_col, num_hashes))
    nbands = num_hashes // band_size
    mh = [f"mh{i}" for i in range(num_hashes)]
    bstructs = F.array(
        *[
            F.struct(
                *[
                    F.col(mh[bnd * band_size + j]).alias(f"v{j}")
                    for j in range(band_size)
                ]
            )
            for bnd in range(nbands)
        ]
    )
    keyed = sig.select("id", *mh, F.posexplode(bstructs).alias("band", "bkey"))
    a, b = keyed.alias("a"), keyed.alias("b")
    # per-band agreement as plain long equality over the signature columns
    band_eq = []
    for bnd in range(nbands):
        e = None
        for j in range(band_size):
            c = F.col(f"a.{mh[bnd * band_size + j]}") == F.col(
                f"b.{mh[bnd * band_size + j]}"
            )
            e = c if e is None else (e & c)
        band_eq.append(e)
    # first-matching-band rule: every earlier band must DISAGREE
    first_band = F.when(F.col("b.band") == 0, F.lit(True))
    acc = None
    for bnd in range(nbands - 1):
        c = ~band_eq[bnd]
        acc = c if acc is None else (acc & c)
        first_band = first_band.when(F.col("b.band") == bnd + 1, acc)
    first_band = first_band.otherwise(F.lit(False))
    bands_hit = None
    for bnd in range(nbands):
        t = F.when(band_eq[bnd], F.lit(1)).otherwise(F.lit(0))
        bands_hit = t if bands_hit is None else (bands_hit + t)
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.id") < F.col("b.id"))
        & first_band,
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        bands_hit.cast("long").alias("bands_hit"),
    )


# the guard in front of every band-join pair emitter here (rationale and
# at-scale no-op property: operators/parallelism.py)
from .parallelism import ensure_min_parallelism as _ensure_min_parallelism


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over 60-bit token hashes.

    Packed-counter formulation (r9): per (id, token) row, the token hash's
    bits are packed as three 16-bit counters per BIGINT (``ceil(bits/3)``
    packed columns); ONE ``groupBy(id)`` sums them map-side, and the
    fingerprint unpacks as ``bit b set iff 2*cnt_b > ntok`` — exactly the
    old per-bit vote ``sum(+-1) > 0`` since ``vote_b = 2*cnt_b - ntok``.
    This replaces the previous (id, token-hash) x bit-position explode
    (a ``bits``-fold row fan-out: 163M aggregated rows at sf1.0/60 bits)
    with ~16 sum buffers over the raw token rows — measured 6.1 -> 3.0 s
    at sf1.0/60 bits, bit-identical output. (The r6 A/B that rejected
    per-bit conditional sums used 60 separate buffers; 3x16-bit packing
    keeps the buffer count at 20 and stays in whole-stage codegen.) Three
    counters, not four: a counter at bit 48 overflows the SIGNED sum once
    it passes 32,767, which ANSI mode raises as ARITHMETIC_OVERFLOW on
    documents inside the bound; three leave 15 spare bits, so a document
    past the bound reaches the ``raise_error`` below instead.

    Input contract (r9): one row per document (``id_col`` unique per row;
    pre-aggregate duplicate-id inputs). Packed counters bound documents at
    65,535 DISTINCT tokens (a >400 KB single document); beyond that the
    fingerprint job fails loudly via ``raise_error`` rather than wrapping.
    """
    ts = _doc_token_sets(df, text_col, id_col).withColumn("h", _tok_hash(F.col("tok")))
    npack = (bits + 2) // 3
    packs = []
    for j in range(npack):
        e = None
        for k in range(3):
            b = 3 * j + k
            if b >= bits:
                break
            t = F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1).cast("long"))
            t = t * F.lit(1 << (16 * k)).cast("long")
            e = t if e is None else (e + t)
        packs.append(e.alias(f"p{j}"))
    agg = (
        ts.select("id", *packs)
        .groupBy("id")
        .agg(
            F.count("*").alias("ntok"),
            *[F.sum(f"p{j}").alias(f"p{j}") for j in range(npack)],
        )
    )
    fp = None
    for b in range(bits):
        cnt = F.shiftright(F.col(f"p{b // 3}"), 16 * (b % 3)).bitwiseAND(
            F.lit(0xFFFF).cast("long")
        )
        # b == 63: 1<<63 overflows a long literal; the sign bit's weight in
        # two's complement is -(1<<63), and the sum wraps identically to the
        # old shiftleft(1L, 63) formulation
        w = -(1 << 63) if b == 63 else (1 << b)
        t = F.when(cnt * 2 > F.col("ntok"), F.lit(w).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = t if fp is None else (fp + t)
    guarded = F.when(F.col("ntok") <= 65535, fp).otherwise(
        F.expr(
            "CAST(raise_error('simhash: document exceeds 65535 distinct tokens "
            "(packed-counter width); split or pre-hash the document') AS BIGINT)"
        )
    )
    return agg.select("id", guarded.alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hamming: int = 0,
) -> DataFrame:
    """Near-dup pairs by SimHash bucket join.

    ``hamming=0``: identical fingerprints only (one equi-join).
    ``hamming=1``: multi-probe widening — one side also probes every
    1-bit-flip bucket (``bits`` extra equi-join keys per row, still no
    scan), catching pairs whose fingerprints differ in a single bit. Each
    qualifying pair matches exactly one probe (probe values are distinct),
    so no dedup pass is needed; ``dist`` reports the actual bit distance.
    """
    if hamming not in (0, 1):
        raise ValueError("hamming widening supports 0 or 1 bit")
    s = simhash(df, text_col, id_col, bits)
    a = s.alias("a")
    if hamming == 0:
        return (
            a.join(
                s.alias("b"),
                (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("fp"),
                F.lit(0).alias("dist"),
            )
        )
    probes = F.array(
        F.col("simhash"),
        *[F.col("simhash").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(bits)],
    )
    b = (
        s.select(
            F.col("id").alias("b_id"),
            F.col("simhash").alias("b_fp"),
            F.explode(probes).alias("probe"),
        )
    )
    return (
        a.join(b, (F.col("a.simhash") == F.col("probe")) & (F.col("a.id") < F.col("b_id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b_id").alias("id_b"),
            F.col("a.simhash").alias("fp"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b_fp"))).alias("dist"),
        )
    )


def hamming_near_dup(
    df: DataFrame,
    fp_col: str = "fp",
    id_col: str = "id",
    r: int = 3,
    bits: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs at hamming distance <= ``r`` on an integer fingerprint
    column — the operator that consumes a 64-bit image ``phash`` (the
    BASELINE input_hint column) or any SimHash/fingerprint BIGINT.

    Pigeonhole band join: split the ``bits`` fingerprint bits into
    ``bands`` (default ``r + 1``) contiguous segments — two fingerprints
    within hamming distance ``r`` differ in at most ``r`` segments, so they
    AGREE exactly on at least one. Candidate pairs come from an equi-join on
    ``(band_index, segment_value)`` (never a scan product: the fan-out is a
    fixed ``bands``x row explosion each side), deduped per pair, then the
    exact ``bit_count(a XOR b) <= r`` filter — all JVM expressions.

    At 10^12 rows the join key space is bounded (band x 2^seg_bits) and the
    only skew risk is a mass-duplicated fingerprint value; run
    ``exact_dedup``-style grouping on ``fp_col`` first (join distinct
    fingerprints, expand groups after) when a corpus is known to carry
    byte-identical images, or wrap the join input in
    ``joins.salted_repartition``.

    Sign-safe for full 64-bit fingerprints stored in a signed BIGINT:
    segments are extracted with ``shiftright + mask`` (the mask clears the
    arithmetic-shift sign fill) and ``bit_count``/``XOR`` operate on the
    two's-complement pattern identically in any engine.
    """
    if r < 0:
        raise ValueError(f"hamming radius must be >= 0, got {r}")
    b = bands if bands is not None else r + 1
    if b < r + 1:
        raise ValueError(
            f"bands={b} cannot guarantee recall at r={r}: a pair may differ "
            f"in every band (pigeonhole needs bands >= r + 1)"
        )
    if b > bits:
        raise ValueError(f"bands={b} exceeds fingerprint bits={bits}")
    # segment bit ranges, widths as even as possible (low bits first)
    widths = [bits // b + (1 if i < bits % b else 0) for i in range(b)]
    los = [sum(widths[:i]) for i in range(b)]
    segs = F.array(
        *[
            F.shiftright(F.col(fp_col), lo).bitwiseAND(
                # w == 64 (r=0, bands=1): (1<<64)-1 overflows a long literal;
                # all-ones in two's complement is -1 and keeps fp intact
                F.lit(-1 if w == 64 else (1 << w) - 1).cast("long")
            )
            for lo, w in zip(los, widths)
        ]
    )
    keyed = _ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.col(fp_col).cast("long").alias("fp"),
        F.posexplode(segs).alias("band", "seg"),
    )
    a, bb = keyed.alias("a"), keyed.alias("b")
    # first-matching-band rule: a pair agreeing on several bands qualifies
    # only at its FIRST shared band, so every pair emits exactly once and
    # the dropDuplicates shuffle of the whole candidate set disappears
    # (measured 2.6 -> 1.6 s at sf0.1/60-bit, identical output).
    # r9: "every earlier band differs" is evaluated on the XOR of the two
    # fingerprints with per-band masks — plain bitwise longs in whole-stage
    # codegen. The previous exists(zip_with(slice, slice)) predicate
    # allocated two array slices per CANDIDATE row in interpreted eval,
    # which dominated the join at sf1.0 (27.4M output pairs): the band
    # join read 35 s; the mask form reads 8 s, identical rows. It also
    # drops the materialized segs array from both join sides.
    x = F.col("a.fp").bitwiseXOR(F.col("b.fp"))
    band_masks = [((1 << w) - 1) << lo if w < 64 else (1 << 64) - 1 for lo, w in zip(los, widths)]
    # wrap to signed 64-bit: a top-band mask at bits=64 has the sign bit set
    band_masks = [m - (1 << 64) if m >= (1 << 63) else m for m in band_masks]
    first_band = F.when(F.col("b.band") == 0, F.lit(True))
    acc = None
    for j in range(b - 1):
        differs = x.bitwiseAND(F.lit(band_masks[j]).cast("long")) != 0
        acc = differs if acc is None else (acc & differs)
        first_band = first_band.when(F.col("b.band") == j + 1, acc)
    first_band = first_band.otherwise(F.lit(False))
    pairs = a.join(
        bb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.seg") == F.col("b.seg"))
        & (F.col("a.id") < F.col("b.id"))
        & first_band,
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.fp").alias("fp_a"),
        F.col("b.fp").alias("fp_b"),
    )
    return pairs.withColumn(
        "dist", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    ).where(F.col("dist") <= r)


def _ckpt_tracked(df: DataFrame) -> tuple[DataFrame, set]:
    """Eager localCheckpoint + the storage-block RDD ids it created, so the
    caller can release superseded rounds (VERDICT r6 #3: `df.unpersist()`
    does NOT free localCheckpoint blocks — they belong to the internal
    RDD, reachable only through the context's persistent-RDD registry).
    The id diff is safe here because the iterative loops are sequential —
    no concurrent job persists between the two snapshots."""
    sc = df.sparkSession.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    out = df.localCheckpoint(eager=True)
    ids = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()} - before
    return out, ids


def _release_ckpts(spark_ctx, ids: set) -> None:
    """Unpersist the tracked localCheckpoint blocks (non-blocking). Only
    call once every downstream consumer of the checkpointed rounds has
    been eagerly materialized — the lineage is truncated, so a released
    block cannot be recomputed."""
    jmap = spark_ctx._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def connected_components(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
    driver_resolve_max_edges: int = 50_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair list: ``(id, component)``
    where ``component`` is the smallest node id reachable — the decision
    step that turns pair generators (hamming/minhash/jaccard/cosine) into
    dedup GROUPS (keep min-id, drop the rest).

    Two-tier (r8, the engine's gated driver-tail pattern): the edge list
    is already the DECISION-sized object (near-dup pairs, orders of
    magnitude below corpus rows), so up to ``driver_resolve_max_edges``
    it is collected behind a ``limit()`` guard and resolved on the
    driver — the distributed loop costs ~8 s of fixed per-round
    Spark-job constants that dominate any wall below tens of millions
    of edges. r9: the driver tier collects via Arrow (``toPandas``) and
    resolves with VECTORIZED numpy min-label propagation + pointer
    doubling (C-speed scatter-min, O(log d) passes) instead of a
    per-edge Python union-find loop, which raises the practical bound:
    the default 50M edges is ~800 MB of Arrow longs (int64 ids) against
    the session's 24g driver / 8g maxResultSize — still decision-sized
    next to the corpus that generated the pairs. Past the bound (or
    with ``driver_resolve_max_edges=0``) the distributed path runs:

    Min-label propagation with pointer doubling and a driver-side
    convergence loop (the same shape as knn_join's ring loop): each round
    every node takes the min of its own and its neighbors' labels (one
    equi-join + hash aggregate over the symmetrized, localCheckpointed
    edge list), then follows the candidate parent's own label (one more
    equi-join on the node-sized label table) — rounds are O(log diameter).
    The loop ends when a round changes nothing; the driver sees only the
    changed-row COUNT, never data rows. Graphs deeper than ``max_iter``
    doublings raise rather than return wrong labels. Both tiers emit
    IDENTICAL rows (min-label semantics; nodes appear iff in ``edges``).

    Singletons carry no dedup decision and would double the output for
    nothing at corpus scale — they appear in neither tier's output.
    """
    spill_dir: str | None = None
    src = edges
    if driver_resolve_max_edges > 0:
        import shutil
        import tempfile

        import numpy as np

        spark = edges.sparkSession
        sel = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        # materialize the edge list ONCE as a compressed parquet spill: the
        # count that gates the driver tier (read from the footers) and the
        # Arrow collect (or the distributed loop) then both read the spill
        # instead of re-running the pair generator. Two alternatives were
        # measured at 27.4M edges and rejected: a limit()-guarded collect
        # (its CollectLimit funnel alone cost 9 s: 11.0 s vs 2.2 s for the
        # straight Arrow collect of the same rows) and a localCheckpoint
        # (~2 GB of deserialized JVM row objects per call whose
        # non-blocking release left growing GC debt across repeated calls:
        # 46 -> 54 -> 79 s over three bench reps). The spill is ~16 B/edge
        # columnar before zstd, per-invocation, and removed before return.
        spill_dir = tempfile.mkdtemp(prefix="psjl_cc_edges_")
        try:
            sel.write.mode("overwrite").parquet(spill_dir)
            ck = spark.read.parquet(spill_dir)
            n_edges = ck.count()
        except BaseException:
            shutil.rmtree(spill_dir, ignore_errors=True)
            raise
        if n_edges <= driver_resolve_max_edges:
            a_t = edges.schema[a_col].dataType.simpleString()
            try:
                if n_edges == 0:
                    return spark.createDataFrame([], f"id {a_t}, component {a_t}")
                tb = ck.toArrow()
            finally:
                shutil.rmtree(spill_dir, ignore_errors=True)
            a_vals = tb.column("a").to_numpy(zero_copy_only=False)
            b_vals = tb.column("b").to_numpy(zero_copy_only=False)
            # Index mapping. Fast path for dense integer ids (document /
            # region ids): work directly in shifted-id space — the
            # 2E-element sort of np.unique(return_inverse) (~9 s at 27.4M
            # edges) disappears and identity labels ARE the ids. Falls
            # back to np.unique for sparse/hashed/string ids. In both
            # paths index order == id order (numeric or lexicographic),
            # so min INDEX == min id and index-space propagation
            # preserves the min-label semantics exactly.
            dense = False
            if np.issubdtype(a_vals.dtype, np.integer):
                minv = int(min(a_vals.min(), b_vals.min()))
                rng = int(max(a_vals.max(), b_vals.max())) - minv + 1
                # bounded label-array memory: 64M slots = 512 MB of int64
                dense = rng <= max(4 * n_edges, 1 << 20) and rng <= (1 << 26)
            if dense:
                n_nodes = rng
                ia = (a_vals.astype(np.int64) - minv)
                ib = (b_vals.astype(np.int64) - minv)
                present = np.zeros(n_nodes, dtype=bool)
                present[ia] = True
                present[ib] = True
                nodes = None
            else:
                nodes, inv = np.unique(
                    np.concatenate([a_vals, b_vals]), return_inverse=True
                )
                n_nodes = len(nodes)
                ia, ib = inv[:n_edges], inv[n_edges:]
            label = np.arange(n_nodes, dtype=np.int64)

            def _scatter_min(lab: np.ndarray, idx: np.ndarray, vals: np.ndarray) -> None:
                # grouped min via ONE in-place sort of idx*n + val encoded
                # longs (n_nodes^2 < 2^63 by the 50M-edge bound): the first
                # element of each idx group is the group min. np.minimum.at
                # is an unbuffered ufunc loop (~3M updates/s — 18 s/round
                # at 27.4M edges); argsort+reduceat measured ~2x slower
                # than this encoded form (two gathers + index sort).
                if len(idx) == 0:
                    return
                enc = idx * np.int64(n_nodes) + vals
                enc.sort()
                dec = enc // n_nodes
                starts = np.flatnonzero(np.r_[True, dec[1:] != dec[:-1]])
                uidx = dec[starts]
                lab[uidx] = np.minimum(lab[uidx], enc[starts] % n_nodes)

            while True:
                prev = label
                m = np.minimum(label[ia], label[ib])
                label = label.copy()
                _scatter_min(label, ia, m)
                _scatter_min(label, ib, m)
                # pointer doubling to a fixed point: full path compression
                while True:
                    nl = label[label]
                    if np.array_equal(nl, label):
                        break
                    label = nl
                if np.array_equal(label, prev):
                    break
                # contract: every surviving edge is rewritten to connect the
                # two current label ROOTS (updates then reach non-roots via
                # pointer doubling — dropping an edge whose endpoints merely
                # SHARE a label, without re-targeting roots, is unsound on
                # chain graphs); dedup shrinks the edge set geometrically,
                # so only round 1 runs at full edge count
                ea, eb = label[ia], label[ib]
                live = ea != eb
                lo = np.minimum(ea[live], eb[live])
                hi = np.maximum(ea[live], eb[live])
                key = np.unique(lo * np.int64(n_nodes) + hi)
                ia, ib = key // n_nodes, key % n_nodes
                if len(ia) == 0:
                    break  # no inter-component edges left: converged
            import pandas as pd

            if dense:
                idx_present = np.flatnonzero(present)
                out_pdf = pd.DataFrame(
                    {"id": idx_present + minv, "component": label[idx_present] + minv}
                )
            else:
                out_pdf = pd.DataFrame({"id": nodes, "component": nodes[label]})
            out = spark.createDataFrame(out_pdf, f"id {a_t}, component {a_t}")
            # bounded by the guard, but only hint broadcast when the node
            # table is actually broadcast-sized
            return F.broadcast(out) if len(out_pdf) <= 4_000_000 else out
        # over the bound: fall through to the distributed tier, feeding it
        # the spilled edge list (no pair-generator re-run)
        src = ck.select(F.col("a").alias(a_col), F.col("b").alias(b_col))
    sc = edges.sparkSession.sparkContext
    try:
        e = src.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
        # fixed topology: rounds re-scan this, not the generator
        e, e_ids = _ckpt_tracked(e)
    finally:
        if spill_dir is not None:
            import shutil

            # the symmetrized checkpoint supersedes the spill
            shutil.rmtree(spill_dir, ignore_errors=True)
    labels = e.select("src").distinct().withColumn("comp", F.col("src"))
    labels, label_ids = _ckpt_tracked(labels)
    for _ in range(max_iter):
        nbr = (
            e.join(
                labels.select(F.col("src").alias("dst"), F.col("comp").alias("dcomp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dcomp").alias("nbr_min"))
        )
        half = labels.join(nbr, "src", "left").select(
            "src",
            F.least(F.col("comp"), F.coalesce("nbr_min", "comp")).alias("comp"),
        )
        # pointer doubling: follow the candidate parent's own (already
        # half-updated) label — label paths halve per round, so rounds are
        # O(log diameter) instead of O(diameter). Exact: a label is always
        # the id of a node in the same component and only decreases.
        # Measured at sf0.1 (543k sym edges, diameter 9): 9 -> 5 rounds,
        # 5.5 -> 3.6 s, identical labels.
        half, half_ids = _ckpt_tracked(half)
        new = half.join(
            half.select(F.col("src").alias("comp"), F.col("comp").alias("comp2")),
            "comp",
            "left",
        ).select(
            "src", F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp")
        )
        new, new_ids = _ckpt_tracked(new)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "src")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        # the round's outputs are materialized and `changed` has consumed
        # the old labels — release the superseded blocks NOW instead of
        # letting O(log d) rounds of node-sized tables accumulate in
        # storage memory (VERDICT r6 #3)
        _release_ckpts(sc, half_ids | label_ids)
        labels, label_ids = new, new_ids
        if changed == 0:
            _release_ckpts(sc, e_ids)  # result no longer needs the edges
            return labels.select(F.col("src").alias("id"), F.col("comp").alias("component"))
    # non-convergence must not leak the tracked blocks either: release the
    # final round's labels AND the edge topology before raising, so a
    # caller that catches and retries with a higher max_iter starts clean
    _release_ckpts(sc, label_ids | e_ids)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter exceeds max_iter — raise it for path-like graphs)"
    )


def fingerprint_components(
    df: DataFrame,
    fp_col: str = "fp",
    id_col: str = "id",
    r: int = 3,
    bits: int = 64,
    bands: int | None = None,
    max_iter: int = 50,
    driver_resolve_max_edges: int = 50_000_000,
) -> DataFrame:
    """Connected components of the hamming<=``r`` near-dup pair graph
    WITHOUT materializing the quadratic pair set — row-for-row identical
    to ``connected_components(hamming_near_dup(df))``.

    Key fact: nodes with an IDENTICAL fingerprint are pairwise connected
    (dist 0 <= r), so the whole duplicate-fingerprint group can ride on
    one representative (its min id). The pigeonhole band join and the
    component resolve then run over one row per DISTINCT fingerprint,
    and per-node labels come back via one fingerprint-keyed join:

    - a duplicate group's internal component is its rep id (= min id);
    - a connected fingerprint-component's label is the min rep id of its
      groups, which IS the min node id of all their members;
    - a node emits a row iff it has >= 1 near-dup pair: its group has
      size >= 2, or its fingerprint has a distinct-fp neighbor within r
      (exactly the nodes ``hamming_near_dup`` pairs mention).

    At sf1.0 the raw pair graph is 27.4M edges from 50k docs but only
    222k edges over 32.6k distinct fingerprints — the 123x edge-volume
    drop is what makes the grouping decision cheap at any duplication
    rate (heavily duplicated corpora collapse the hardest). The distinct-
    fingerprint table is lazily localCheckpointed: it feeds both band-join
    sides and the final expansion join, and is the algorithm's working
    set by construction.
    """
    sig = df.select(F.col(id_col).alias("id"), F.col(fp_col).alias("fp"))
    grp = (
        sig.groupBy("fp")
        .agg(F.min("id").alias("rep_id"), F.count("*").alias("gsize"))
        .localCheckpoint(eager=False)
    )
    reps = grp.select(F.col("rep_id").alias("id"), "fp")
    rp = hamming_near_dup(
        reps, fp_col="fp", id_col="id", r=r, bits=bits, bands=bands
    ).select("id_a", "id_b")
    cc = connected_components(
        rp,
        max_iter=max_iter,
        driver_resolve_max_edges=driver_resolve_max_edges,
    )
    lab = grp.join(
        cc.select(F.col("id").alias("rep_id"), "component"), "rep_id", "left"
    ).select(
        "fp",
        "gsize",
        F.coalesce("component", F.col("rep_id")).alias("component"),
        F.col("component").isNotNull().alias("connected"),
    )
    return (
        sig.join(lab, "fp")
        .where((F.col("gsize") >= 2) | F.col("connected"))
        .select("id", "component")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Test-set contamination detection — the decontamination step every
    production training pipeline runs (the GPT-3 13-gram method): for
    each corpus document, how many of its distinct word n-grams appear
    anywhere in the benchmark (eval/test) corpus.

    Returns ``(id_col, n_grams, contaminated, frac_ppm)`` — total
    distinct n-grams, how many hit the benchmark, and the integer
    parts-per-million fraction (engine-portable, no float division).
    Documents shorter than ``n`` tokens have nothing to leak and emit no
    row.

    Scale shape: benchmarks are eval-set-sized, so their distinct gram
    set BROADCASTS — the 100 TB corpus is never shuffled except the
    map-side-partial per-doc count; the corpus side is one scan ->
    n-gram explode (JVM ``transform(sequence)``, shared with the
    jaccard family) -> broadcast semi-join. Set
    ``broadcast_benchmark=False`` for corpus-sized "benchmarks"
    (cross-corpus overlap audits): both sides then shuffle on the gram
    key, the same split every blocking join here offers.

    r9 plan shape: the per-document distinct-gram count comes straight
    from ``size(array_distinct(grams))`` in the scan projection (no
    corpus-wide (id, gram) distinct shuffle, no aggregate for ``tot``
    at all), and the hit count explodes the per-row-distinct gram array
    into the broadcast semi-join — the only exchange left is the
    map-side-partial per-doc hit count. Requires one row per document
    (``id_col`` unique), the operator's documented contract.
    """
    base = _ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("toks")
    )
    # grams are represented by xxhash64 over the n token columns — no
    # per-gram string concatenation, long-keyed distinct/join everywhere
    # (the same trade repetition_stats documents: two different grams
    # would have to collide in 64 bits to perturb a count; with corpus
    # and benchmark gram sets of ~10^7 that is ~1e-5 cumulative across
    # the whole corpus, zero observed at every tested SF). 10 -> 6 s at
    # sf1.0 on top of the distinct-shuffle removal below.
    arr = F.array_distinct(_gram_hash_array(n))
    # "has >= 1 gram" is filtered as the CHEAP equivalent size(toks) >= n
    # BEFORE the gram projection: a post-hoc where(n_grams > 0) gets pushed
    # below the toks projection, re-inlining split(text) into the per-gram
    # lambda (the O(grams x tokens) re-split pathology — measured 3.3 ->
    # 18 s for this branch at sf1.0)
    tot = (
        base.where(F.size("toks") >= n)
        .select("id", F.size(arr).alias("n_grams"))
    )
    cg = base.select("id", F.explode(arr).alias("tok"))
    bb = benchmark.select(F.split(F.col(text_col), " ").alias("toks"))
    bg = bb.select(F.explode(F.array_distinct(_gram_hash_array(n))).alias("tok")).distinct()
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    hits = cg.join(bg, "tok").groupBy("id").agg(
        F.count("*").alias("contaminated")
    )
    return (
        tot.join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("contaminated", F.lit(0)).cast("long").alias("contaminated"),
            F.expr(
                "CAST(coalesce(contaminated, 0) AS BIGINT) * 1000000 "
                "div n_grams"
            ).alias("frac_ppm"),
        )
    )
