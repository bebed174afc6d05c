"""API facade, streaming ingestion, multimodal plumbing tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyramidscheme_jl_spark.api import PyramidDataset
from pyramidscheme_jl_spark.sources.synth import (
    IMAGES_DDL,
    image_pixels,
    mosaic_pixels,
    synth_images,
    synth_images_df,
)
from tests.test_build_spark import assemble_level, oracle_levels


def test_api_build_open_window_equals(spark, tmp_path):
    images = spark.createDataFrame(synth_images(G=4), IMAGES_DDL)
    p = PyramidDataset.build(spark, images, str(tmp_path / "a"), G=4, run_id="api")
    assert p.nlevels == 2
    # open() recovers the spec from disk
    p2 = PyramidDataset.open(spark, p.path)
    assert p2.spec == p.spec
    w = p2.read_window((0, 0, 1024, 1024), (256, 256), axis_names=("lon", "lat"))
    assert w["z"] == 2 and w["data"].shape == (256, 256) and "lon" in w
    assert p.equals(p2)
    # copy-out write round-trips equal (reference test/runtests.jl:86-103)
    p3 = p.write_to(str(tmp_path / "b"))
    assert p.equals(p3)
    # CRS hook is pluggable (identity here)
    w2 = p2.read_window((0, 0, 512, 512), (256, 256), bbox_transform=lambda e: e)
    assert w2["z"] == 1


def test_synth_images_df_matches_local(spark):
    rows_local = synth_images(G=3)
    rows_dist = synth_images_df(spark, G=3, partitions=4).collect()
    got = {r["image_id"]: r for r in rows_dist}
    assert len(got) == 9
    for r in rows_local:
        d = got[r["image_id"]]
        assert bytes(d["bytes"]) == r["bytes"]
        assert d["caption"] == r["caption"] and d["phash"] == r["phash"]


def test_streaming_ingest_matches_batch_build(spark, tmp_path):
    from pyramidscheme_jl_spark.operators.build import PyramidSpec
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    src = tmp_path / "stream_src"
    src.mkdir()
    rows = synth_images(G=4)
    # two micro-batch files: second batch touches parents already built by
    # the first (late-arrival / incremental-patch path)
    spark.createDataFrame(rows[:10], IMAGES_DDL).coalesce(1).write.mode("overwrite").parquet(
        str(src / "b0")
    )
    q_path = str(tmp_path / "spyr")
    q = ingest_images(spark, f"{src}/*", q_path, G=4)
    q.awaitTermination(120)
    spark.createDataFrame(rows[10:], IMAGES_DDL).coalesce(1).write.mode("overwrite").parquet(
        str(src / "b1")
    )
    q2 = ingest_images(spark, f"{src}/*", q_path, G=4)
    q2.awaitTermination(120)

    spec = PyramidSpec(1024, 1024)
    oracle = oracle_levels(mosaic_pixels(G=4), "mean", 2)
    for z in (0, 1, 2):
        got = assemble_level(spark, q_path, z, spec)
        np.testing.assert_allclose(got, oracle[z], rtol=1e-12)


def test_streaming_child_lookup_pushes_filters(spark, tmp_path):
    """The ancestor-patch child scan must push tx/ty predicates into parquet
    (VERDICT r1: the old shiftright(tx,1)==px OR-chain scanned whole levels)
    and keep exactly the children of the changed parents."""
    from pyramidscheme_jl_spark.streaming.ingest import _sibling_union_scan, ingest_images

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(synth_images(G=4), IMAGES_DDL).coalesce(1).write.parquet(
        str(src / "b0")
    )
    q_path = str(tmp_path / "pyr")
    ingest_images(spark, f"{src}/*", q_path, G=4).awaitTermination(120)

    kids = _sibling_union_scan(spark, q_path, {1: {(0, 0), (1, 1)}}, 1, 1, False)
    plan = kids._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(tx" in plan and "In(ty" in plan
    got = {(r["lvl"], r["tx"], r["ty"]) for r in kids.collect()}
    assert got == {(0, tx, ty) for tx in range(4) for ty in range(4)} - {
        (0, 0, 2), (0, 0, 3), (0, 1, 2), (0, 1, 3), (0, 2, 0), (0, 2, 1), (0, 3, 0), (0, 3, 1)
    }


def test_streaming_refuses_bulk_layout(spark, tmp_path):
    """ADVICE r1: patching a build_pyramid level would duplicate tiles —
    the file-per-tile writer must refuse bulk part-* layouts."""
    import pytest as _pytest

    from pyramidscheme_jl_spark.operators.build import build_pyramid
    from pyramidscheme_jl_spark.streaming.ingest import _write_tiles_filewise

    images = spark.createDataFrame(synth_images(G=4), IMAGES_DDL)
    path = str(tmp_path / "bulk")
    build_pyramid(spark, images, path, G=4, run_id="bulk")
    with _pytest.raises(ValueError, match="streaming layout"):
        _write_tiles_filewise(
            [dict(tx=0, ty=0, bytes=b"", w=0, h=0, c=1, dtype="uint8",
                  vmin=0.0, vmax=0.0, vmean=0.0, cell=0,
                  xmin=0.0, ymin=0.0, xmax=0.0, ymax=0.0)],
            path, 1,
        )


def test_multimodal_features_and_resize(spark):
    from pyramidscheme_jl_spark.operators.multimodal import (
        image_features,
        resize_images,
        sample_frames,
    )

    images = spark.createDataFrame(synth_images(G=2), IMAGES_DDL)
    feats = {r["image_id"]: r for r in image_features(images).collect()}
    assert len(feats) == 4
    img00 = image_pixels(0, 0)
    f = feats["img-00000000"]
    assert f["mean_luma"] == pytest.approx(img00.astype(np.float64).mean())
    assert f["phash"] == [r for r in synth_images(G=2) if r["image_id"] == "img-00000000"][0][
        "phash"
    ]
    # resize halves dimensions with block-mean values
    res = {r["image_id"]: r for r in resize_images(images, factor=2).collect()}
    r0 = res["img-00000000"]
    assert (r0["w"], r0["h"]) == (128, 128)
    from pyramidscheme_jl_spark.functions.codec import decode_tile
    from pyramidscheme_jl_spark.functions.reducers import block_reduce

    want = np.clip(np.rint(block_reduce(img00.astype(np.float64), "mean")), 0, 255).astype(
        np.uint8
    )
    np.testing.assert_array_equal(decode_tile(r0["bytes"], 128, 128, "uint8"), want)
    # frame sampling of a stub 4-frame video
    frames = np.stack([np.full((4, 4), i, dtype=np.uint8) for i in range(4)])
    media = spark.createDataFrame(
        [("vid-0", frames.tobytes(), 4, 4, 4)],
        "media_id string, bytes binary, w int, h int, n_frames int",
    )
    out = sample_frames(media, every_n=2).collect()
    assert sorted(r["frame_index"] for r in out) == [0, 2]
    assert bytes(out[0]["bytes"]) == frames[out[0]["frame_index"]].tobytes()
    # stubbed codec (mp4 — needs ffmpeg) raises cleanly; deterministic fake
    # passes through for pipeline-shape tests
    bad = spark.createDataFrame(
        [("x", b"\x00\x00\x00 ftypmp42", 8, 8, "mp4", "c", 0)], IMAGES_DDL
    )
    with pytest.raises(Exception, match="codec|NotImplemented"):
        image_features(bad).collect()
    assert image_features(bad, deterministic_fake=True).count() == 1
    # jpeg is a REAL codec now: garbage bytes are a loud parse error, never
    # silently faked (deterministic_fake only covers stubbed formats)
    junk = spark.createDataFrame(
        [("y", b"\xff\xd8junk", 8, 8, "jpeg", "c", 0)], IMAGES_DDL
    )
    with pytest.raises(Exception, match="marker|JPEG"):
        image_features(junk, deterministic_fake=True).collect()


def test_dedup_module_spark(spark):
    from pyramidscheme_jl_spark.operators.dedup import (
        exact_dedup,
        jaccard_pairs,
        minhash_lsh_pairs,
        simhash,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d"),
            (1, "a b c d"),          # exact dup of 0
            (2, "a b c e"),          # 3/5 jaccard with 0
            (3, "x y z w"),          # unrelated
        ],
        "doc_id long, text string",
    )
    ed = {r["keep_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert ed[0] == 2 and ed[2] == 1 and ed[3] == 1
    jp = {(r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in jp and (0, 2) in jp and (0, 3) not in jp
    mh = {(r["id_a"], r["id_b"]): r["bands_hit"] for r in minhash_lsh_pairs(docs).collect()}
    assert mh[(0, 1)] == 8  # identical docs agree on every band
    sh = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[0] == sh[1] and sh[0] != sh[3]


def test_simhash_distinct_token_bound(spark):
    """The packed 16-bit counters bound a document at 65,535 distinct
    tokens: exactly at the bound the fingerprint is the per-bit majority
    vote over the token hashes; one token more fails loudly."""
    import hashlib

    from pyramidscheme_jl_spark.operators.dedup import simhash

    toks = [f"w{i}" for i in range(65536)]
    docs = spark.createDataFrame([(0, " ".join(toks[:-1]))], "doc_id long, text string")
    got = simhash(docs).collect()[0]["simhash"]
    h = np.array([int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks[:-1]])
    votes = ((h[:, None] >> np.arange(32)) & 1).sum(axis=0)
    want = sum(1 << b for b in range(32) if 2 * votes[b] > len(h))
    assert got == want
    over = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    with pytest.raises(Exception, match="exceeds 65535 distinct tokens"):
        simhash(over).collect()


def test_hyperplane_lsh_recall(spark):
    """VERDICT r1 #10: seeded random-hyperplane buckets reach recall >= 0.9
    vs brute force on clustered vectors (axis-aligned bits degrade under
    correlated dims; hyperplanes don't)."""
    from pyramidscheme_jl_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    rng = np.random.RandomState(42)
    dim, ncl, per = 16, 8, 25
    centers = rng.randn(ncl, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(ncl):
        for _ in range(per):
            v = centers[c] + 0.02 * rng.randn(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where("vec_id % 40 = 0")  # one per other cluster
    exact = {}
    for r in brute_force_topk(df, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["n_id"])
    approx = {}
    for r in lsh_topk(df, queries, k=5, bits=8, seed=7, dim=dim, probes=1).collect():
        approx.setdefault(r["query_id"], set()).add(r["n_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_lsh_multiprobe_depth2(spark):
    """VERDICT r6 #8: margin-ordered multi-probe (probes>=2). (1) The
    probe sequence is exactly the numpy replay of the documented rule
    (base bucket first, then XORs of flip sets of <= depth lowest-margin
    bits ordered by sum of squared margins — all int64, stable ties);
    (2) every returned neighbor lives in one of the query's probed
    buckets; (3) on a corpus where neighbors straddle hyperplanes,
    depth-2 recall strictly dominates the same-budget depth-1 probe set
    and reaches >= 0.9; (4) non-hyperplane path rejects probes>=2."""
    from itertools import combinations

    import pytest as _pytest

    from pyramidscheme_jl_spark.operators.similarity import (
        brute_force_topk,
        hyperplane_signs,
        lsh_bucket,
        lsh_topk,
        quantized,
    )

    rng = np.random.RandomState(12)
    dim, ncl, per, bits, seed, k = 16, 16, 20, 8, 7, 5
    centers = rng.randn(ncl, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in range(ncl):
        for _ in range(per):
            v = centers[c] + 0.15 * rng.randn(dim)  # wide: straddles planes
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where("vec_id % 40 = 0")

    # (1) numpy twin of the probe sequence for one query
    signs_t = np.array(hyperplane_signs(bits, dim, seed), dtype=np.int64).T
    qv = np.array(
        quantized(queries, "embedding").where("vec_id = 0")
        .select("qvec").collect()[0][0], dtype=np.int64)
    dots = qv @ signs_t
    base = int(((dots > 0).astype(np.int64) << np.arange(bits)).sum())
    mg = np.abs(dots)
    order = np.argsort(mg, kind="stable")[: min(bits, 12)]
    cand = []
    for r in range(1, 3):
        for comb_i, comb in enumerate(combinations(range(len(order)), r)):
            score = int(sum(int(mg[order[j]]) ** 2 for j in comb))
            mask = 0
            for j in comb:
                mask |= 1 << int(order[j])
            cand.append((score, comb_i if r == 1 else 1000 + comb_i, mask))
    # stable by score in enumeration order (combinations are emitted
    # size-1 ranks first, matching the C-matrix row order)
    cand = [m for _, _, m in sorted(cand, key=lambda t: (t[0], t[1]))]
    budget = 32
    expected = [base] + [base ^ m for m in cand[:budget]]

    from pyramidscheme_jl_spark.operators.similarity import _multiprobe_udf

    got = (
        quantized(queries, "embedding").where("vec_id = 0")
        .select(_multiprobe_udf(signs_t, bits, 2, budget)("qvec").alias("b"))
        .collect()[0]["b"]
    )
    assert list(got) == expected, (list(got), expected)

    # (2) candidate validity: neighbors come from probed buckets only
    d_buckets = {r["vec_id"]: r["bucket"] for r in lsh_bucket(
        df, bits, seed=seed, dim=dim).select("vec_id", "bucket").collect()}
    res2 = lsh_topk(df, queries, k=k, bits=bits, seed=seed, dim=dim,
                    probes=2, probe_budget=budget).collect()
    probed = set(expected)
    for r in res2:
        if r["query_id"] == 0:
            assert d_buckets[r["n_id"]] in probed, r

    # (3) recall: depth-2 >= depth-1 at the SAME budget, and >= 0.9
    exact = {}
    for r in brute_force_topk(df, queries, k=k).collect():
        exact.setdefault(r["query_id"], set()).add(r["n_id"])

    def recall(res):
        approx = {}
        for r in res:
            approx.setdefault(r["query_id"], set()).add(r["n_id"])
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    rec1 = recall(lsh_topk(df, queries, k=k, bits=bits, seed=seed,
                           dim=dim, probes=1).collect())
    rec2 = recall(res2)
    assert rec2 >= rec1, (rec2, rec1)
    assert rec2 >= 0.9, rec2

    # (4) r8 (VERDICT r7 #7): the axis-aligned fold — probes>=2 without
    # seed uses |v[b]| of the first `bits` dims as the margins (identity
    # sign matrix), same machinery. Probe sequence = the numpy replay
    # with dots = qv[:bits]; recall never below the single-bucket path.
    dots_ax = qv[:bits]
    base_ax = int(((dots_ax > 0).astype(np.int64) << np.arange(bits)).sum())
    mg_ax = np.abs(dots_ax)
    order_ax = np.argsort(mg_ax, kind="stable")[: min(bits, 12)]
    cand_ax = []
    for r in range(1, 3):
        for comb_i, comb in enumerate(combinations(range(len(order_ax)), r)):
            score = int(sum(int(mg_ax[order_ax[j]]) ** 2 for j in comb))
            mask = 0
            for j in comb:
                mask |= 1 << int(order_ax[j])
            cand_ax.append((score, comb_i if r == 1 else 1000 + comb_i, mask))
    cand_ax = [m for _, _, m in sorted(cand_ax, key=lambda t: (t[0], t[1]))]
    expected_ax = [base_ax] + [base_ax ^ m for m in cand_ax[:budget]]
    got_ax = (
        quantized(queries, "embedding").where("vec_id = 0")
        .select(_multiprobe_udf(None, bits, 2, budget)("qvec").alias("b"))
        .collect()[0]["b"]
    )
    assert list(got_ax) == expected_ax
    # base bucket agrees with lsh_bucket's axis-aligned expression
    ax_bucket = lsh_bucket(df, bits).where("vec_id = 0").collect()[0]["bucket"]
    assert ax_bucket == base_ax
    rec_ax0 = recall(lsh_topk(df, queries, k=k, bits=bits).collect())
    rec_ax2 = recall(
        lsh_topk(df, queries, k=k, bits=bits, probes=2,
                 probe_budget=budget).collect()
    )
    assert rec_ax2 >= rec_ax0, (rec_ax2, rec_ax0)
    # hyperplane multiprobe still validates its own requirement
    with _pytest.raises(ValueError, match="dim"):
        lsh_topk(df, queries, k=k, bits=bits, seed=seed, probes=2)


def test_ivf_topk_recall(spark):
    """IVF ANN (coarse k-means quantizer + nprobe list join) reaches
    recall >= 0.9 vs brute force on clustered vectors."""
    from pyramidscheme_jl_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(3)
    dim, ncl, per = 16, 8, 25
    centers = rng.randn(ncl, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(ncl):
        for _ in range(per):
            rows.append((vid, [float(x) for x in centers[c] + 0.03 * rng.randn(dim)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where("vec_id % 40 = 0")
    exact = {}
    for r in brute_force_topk(df, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["n_id"])
    approx = {}
    for r in ivf_topk(df, queries, k=5, nlist=8, nprobe=2, seed=7).collect():
        approx.setdefault(r["query_id"], set()).add(r["n_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_jaccard_df_cap_blocks_hot_tokens(spark):
    """VERDICT r1: a stopword with huge df must not make the candidate join
    quadratic. With the cap, hot-token-only pairs vanish while rare-token
    pairs survive."""
    from pyramidscheme_jl_spark.operators.dedup import jaccard_pairs, token_sets

    hot = [(i, f"the u{i}a u{i}b") for i in range(12)]  # only share "the"
    rare = [(100, "alpha beta gamma"), (101, "alpha beta delta")]
    docs = spark.createDataFrame(hot + rare, "doc_id long, text string")

    uncapped = jaccard_pairs(docs, threshold=0.1, max_df=None).collect()
    assert {(r["id_a"], r["id_b"]) for r in uncapped} >= {(0, 1), (100, 101)}

    capped = jaccard_pairs(docs, threshold=0.1, max_df=5).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert got == {(100, 101)}  # hot-token-only pairs gone, rare pair kept
    # the blocking itself shrank: no posting list exceeds the cap
    ts = token_sets(docs, "text", "doc_id")
    from pyspark.sql import functions as F2

    max_post = (
        ts.join(
            ts.groupBy("tok").agg(F2.count("*").alias("df")).where("df <= 5"), "tok"
        )
        .groupBy("tok")
        .count()
        .agg(F2.max("count"))
        .collect()[0][0]
    )
    assert max_post <= 5


def test_simhash_hamming_widening(spark):
    """hamming=1 multi-probe returns exactly the pairs whose fingerprints
    differ by <= 1 bit (self-consistent oracle over the real fingerprints)."""
    from pyramidscheme_jl_spark.operators.dedup import simhash, simhash_dup_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} shared tokens here plus u{i}") for i in range(12)]
        + [(100, "a b c d"), (101, "a b c d")],
        "doc_id long, text string",
    )
    fps = {r["id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
    ids = sorted(fps)
    want = {
        (x, y, bin(fps[x] ^ fps[y]).count("1"))
        for i, x in enumerate(ids)
        for y in ids[i + 1 :]
        if bin(fps[x] ^ fps[y]).count("1") <= 1
    }
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in simhash_dup_pairs(docs, bits=16, hamming=1).collect()
    }
    assert got == want and (100, 101, 0) in got
    # exact mode is the dist==0 subset
    got0 = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in simhash_dup_pairs(docs, bits=16, hamming=0).collect()
    }
    assert got0 == {t for t in want if t[2] == 0}


def test_hamming_near_dup_matches_brute_force(spark):
    """Pigeonhole band join returns EXACTLY the hamming<=r pairs — including
    fingerprints with bit 63 set (negative BIGINT: the mask must clear the
    arithmetic-shift sign fill) and pairs agreeing on several bands (the
    per-pair dedup)."""
    from pyramidscheme_jl_spark.operators.dedup import hamming_near_dup

    def s64(v: int) -> int:  # wrap a python int into two's-complement int64
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= (1 << 63) else v

    base = (1 << 63) - 12345  # bit 62..0 pattern
    neg = -(1 << 63) + 77     # bit 63 set
    fps = [
        ("a", base),
        ("b", s64(base ^ (1 << 5))),                 # dist 1 from a
        ("c", s64(base ^ (1 << 5) ^ (1 << 40))),     # dist 2 from a, 1 from b
        ("d", neg),
        ("e", s64(neg ^ (1 << 63) ^ (1 << 0) ^ (1 << 62))),  # dist 3 from d
        ("f", s64(base ^ 0xFF)),                     # dist 8 from a — excluded at r=3
        ("g", base),                                 # dist 0 dup of a
    ]
    df = spark.createDataFrame(fps, "id string, fp long")
    want = {
        (x, y, bin((fx ^ fy) & ((1 << 64) - 1)).count("1"))
        for i, (x, fx) in enumerate(fps)
        for (y, fy) in fps[i + 1 :]
        if bin((fx ^ fy) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in hamming_near_dup(df, r=3, bits=64).collect()
    }
    assert got == want and ("a", "g", 0) in want and ("d", "e", 3) in want
    # wider bands than the minimum still exact (more, smaller segments)
    got8 = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in hamming_near_dup(df, r=3, bits=64, bands=8).collect()
    }
    assert got8 == want

    # r=0 collapses to ONE 64-bit band (exact-duplicate join): the segment
    # mask must be all-ones without overflowing a long literal
    got0 = {
        (r["id_a"], r["id_b"]) for r in hamming_near_dup(df, r=0, bits=64).collect()
    }
    assert got0 == {(x, y, d)[:2] for x, y, d in want if d == 0} == {("a", "g")}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dup(df, r=3, bands=3)
    with _pytest.raises(ValueError, match="exceeds"):
        hamming_near_dup(df, r=3, bits=8, bands=9)


def test_hamming_near_dup_on_real_phash(spark):
    """The input_hint consumer path: 64-bit image phashes of the synthetic
    mosaic, plus perturbed variants whose phash drifts a few bits — the
    operator finds exactly the pairs the numpy brute force predicts."""
    import numpy as np

    from pyramidscheme_jl_spark.operators.dedup import hamming_near_dup
    from pyramidscheme_jl_spark.sources.synth import phash64

    # 16 structurally distinct images (the mosaic fixture is a brightness
    # shift of ONE pattern — every phash identical — so this test uses
    # varied gradients; verified min cross-pattern distance 18)
    def patt(i):
        x = np.arange(64, dtype=np.int64)[None, :]
        y = np.arange(64, dtype=np.int64)[:, None]
        return (((i * 3 + 1) * x + (i * 5 + 2) * y + (x * y if i % 2 else x ^ y)) % 256).astype(
            np.uint8
        )

    rows = []
    for i in range(16):
        img = patt(i)
        rows.append((f"img-{i:03d}", phash64(img)))
        if i < 3:  # brighten (i+1)^2 blocks: dist 0 / 2 / >6 (measured)
            pert = img.astype(np.int64)
            pert[: 8 * (i + 1), : 8 * (i + 1)] += 60
            rows.append((f"img-{i:03d}-v2", phash64(np.clip(pert, 0, 255).astype(np.uint8))))
    want = {
        (x, y, bin((fx ^ fy) & ((1 << 64) - 1)).count("1"))
        for i, (x, fx) in enumerate(rows)
        for (y, fy) in rows[i + 1 :]
        if bin((fx ^ fy) & ((1 << 64) - 1)).count("1") <= 6
    }
    # an exact-dup pair, a genuine near-dup pair, and a perturbed-past-r exclusion
    assert ("img-001", "img-001-v2", 2) in want
    assert not any("img-002-v2" in (a, b) for a, b, _ in want)
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in hamming_near_dup(df, fp_col="phash", id_col="image_id", r=6).collect()
    }
    assert got == want


def test_connected_components(spark):
    """Min-label propagation: exact components on a hand graph (two
    clusters + a chain crossing partition boundaries), singleton
    exclusion, and the non-convergence guard."""
    import pytest as _pytest

    from pyramidscheme_jl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 4), (6, 5), (3, 6)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}
    # 1-2-3-6-5-4 is one chain component; 10-11 the other; no singletons —
    # and the r8 driver-tail tier must emit IDENTICAL rows to the
    # distributed pointer-doubling tier
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == want
    dist = {
        r["id"]: r["component"]
        for r in connected_components(edges, driver_resolve_max_edges=0).collect()
    }
    assert dist == want
    # a path graph longer than max_iter raises instead of mislabeling
    # (distributed tier only — the driver tail has no iteration cap)
    path = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(path, max_iter=2, driver_resolve_max_edges=0)
    assert {r["component"] for r in connected_components(path).collect()} == {0}


def test_fingerprint_components_equivalence(spark):
    """r9: fingerprint_components (distinct-fp representative fusion) must
    emit row-for-row what connected_components(hamming_near_dup(df))
    emits — on a fixture that exercises every case: duplicate-fp groups
    (internal pairs only), duplicate groups connected to other fps,
    singleton fps with neighbors, and isolated fps (no row at all)."""
    from pyramidscheme_jl_spark.operators.dedup import (
        connected_components,
        fingerprint_components,
        hamming_near_dup,
    )

    rows = [
        # dup group, isolated from everything (dist to others > 3)
        (1, 0b111000111000111),
        (2, 0b111000111000111),
        # dup group connected to a singleton fp one bit away
        (10, 0b000000000001111),
        (11, 0b000000000001111),
        (12, 0b000000000000111),
        # chain of singleton fps, pairwise within r=3
        (20, 0b101010101010101),
        (21, 0b101010101010100),
        (22, 0b101010101010000),
        # isolated singleton: must appear in NEITHER output
        (30, 0b010101010000000),
    ]
    df = spark.createDataFrame(rows, "id long, fp long")
    want = {
        (r["id"], r["component"])
        for r in connected_components(
            hamming_near_dup(df, fp_col="fp", id_col="id", r=3, bits=15).select(
                "id_a", "id_b"
            )
        ).collect()
    }
    got = {
        (r["id"], r["component"])
        for r in fingerprint_components(
            df, fp_col="fp", id_col="id", r=3, bits=15
        ).collect()
    }
    assert got == want
    assert 30 not in {i for i, _ in got}
    assert (1, 1) in got and (2, 1) in got  # isolated dup group keeps min id


def test_connected_components_storage_flat(spark):
    """VERDICT r6 #3: superseded per-round localCheckpoints must be
    released — storage memory stays flat across rounds instead of
    accumulating O(log d) node-sized tables. A 10^5-edge graph with a
    long chain (many rounds) must finish with ONLY the final label
    table's blocks persisted."""
    from pyspark.sql import functions as F

    from pyramidscheme_jl_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    for info in sc._jsc.sc().getRDDStorageInfo():  # clean slate
        j = sc._jsc.getPersistentRDDs().get(info.id())
        if j is not None:
            j.unpersist(True)
    n = 100_000
    # a 4096-node chain (12+ doubling-free rounds, ~5 with doubling)
    # unioned with random small clusters
    chain = spark.range(4095).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    rand = spark.range(n).select(
        (F.pmod(F.hash(F.col("id")), 20000) + 10000).cast("long").alias("id_a"),
        (F.pmod(F.hash(F.col("id") + n), 20000) + 10000).cast("long").alias("id_b"),
    ).where(F.col("id_a") != F.col("id_b"))
    # pin the DISTRIBUTED tier (the r8 driver tail would otherwise absorb
    # this ~100k-edge graph and leave the storage property vacuous)
    comp = connected_components(chain.union(rand), driver_resolve_max_edges=0)
    assert comp.count() > 0
    # chain labels exact: every chain node maps to 0 (chain ids < 4096
    # never collide with the random block's 10000+ range)
    assert (
        comp.where(F.col("id") < 4096).select("component").distinct().count() == 1
    )
    leftover = sc._jsc.sc().getRDDStorageInfo()
    # only the returned labels' checkpoint may remain (1 RDD); the edge
    # list and every superseded round must be gone
    assert len(leftover) <= 1, [i.toString() for i in leftover]


def test_similarity_module_spark(spark):
    from pyramidscheme_jl_spark.operators.similarity import (
        brute_force_topk,
        cosine_near_dup_pairs,
        lsh_topk,
    )

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, -0.1, 0.0]),   # near 0, same sign-bucket
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, -0.01, 0.0]),  # nearer 0, same sign-bucket
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    top = brute_force_topk(df, df.where("vec_id = 0"), k=2).collect()
    ids = [r["n_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert ids == [3, 1]
    # LSH with sign buckets: bucket of 0 is shared by 1 and 3, not 4
    lt = lsh_topk(df, df.where("vec_id = 0"), k=5, bits=3).collect()
    assert {r["n_id"] for r in lt} == {1, 3}
    nd = {(r["id_a"], r["id_b"]) for r in cosine_near_dup_pairs(df, threshold_milli=990, bits=3).collect()}
    assert (0, 3) in nd and (0, 2) not in nd


def test_lsh_topk_all_shuffled_join(spark):
    """VERDICT r2 #2: broadcast_queries=False must produce (a) identical
    results to the broadcast path and (b) a shuffled hash join — no
    BroadcastExchange of the exploded query side."""
    from pyramidscheme_jl_spark.operators.similarity import lsh_topk

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(rng.randn(120, 8))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(k=3, bits=4, seed=7, dim=8, probes=1)
    bc = lsh_topk(df, df, broadcast_queries=True, **kw)
    sh = lsh_topk(df, df, broadcast_queries=False, **kw)
    got_bc = {(r["query_id"], r["n_id"], r["ip"], r["rank"]) for r in bc.collect()}
    got_sh = {(r["query_id"], r["n_id"], r["ip"], r["rank"]) for r in sh.collect()}
    assert got_bc == got_sh and len(got_sh) > 100

    plan = sh._jdf.queryExecution().executedPlan().toString()
    # the bucket meeting must not broadcast either side. r9: the large-Q
    # path scores via a bucket-cogrouped Arrow matmul stage — both sides
    # hash-shuffle on bucket into FlatMapCoGroupsInPandas (the same
    # no-broadcast property the old ShuffledHashJoin pin protected; the
    # two-phase topk_per_query may still broadcast its tiny survivor set)
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    assert "BroadcastHashJoin [bucket" not in plan


def test_streaming_compaction_roundtrip(spark, tmp_path):
    """VERDICT r2 #3: ingest (delta layout) -> compact (bulk) -> pixels
    unchanged, file counts bounded, manifest committed so
    build_pyramid(resume=True) continues on the compacted pyramid."""
    import glob

    from pyramidscheme_jl_spark.operators.build import PyramidSpec, build_pyramid
    from pyramidscheme_jl_spark.sources.catalog import committed_levels, level_path
    from pyramidscheme_jl_spark.streaming.ingest import (
        _write_tiles_filewise,
        compact_pyramid,
        ingest_images,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = synth_images(G=4)
    spark.createDataFrame(rows, IMAGES_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "pyr")
    ingest_images(spark, f"{src}/*", q_path, G=4).awaitTermination(120)

    # delta layout before: O(tasks) files at z=0, NOT one per tile (the
    # round-5 read-amplification fix), all rows carrying the batch ordinal
    n_delta = len(glob.glob(f"{level_path(q_path, 0)}/delta-b*.parquet"))
    assert 1 <= n_delta < 16
    assert not glob.glob(f"{level_path(q_path, 0)}/tile-*.parquet")
    spec = PyramidSpec(1024, 1024)
    before = {z: assemble_level(spark, q_path, z, spec) for z in (0, 1, 2)}

    # no reducer passed: compaction recovers it (and its exact hash) from
    # the ingest's own manifest rows instead of guessing a default
    done = compact_pyramid(spark, q_path, run_id="c0")
    assert set(done) == {0, 1, 2}
    from pyramidscheme_jl_spark.sources.catalog import read_manifest

    reds = {
        r["reducer"]
        for r in read_manifest(spark, q_path).select("reducer").distinct().collect()
    }
    assert reds == {"mean"}  # the stream's reducer, not a stamped-over default
    for z in (0, 1, 2):
        d = level_path(q_path, z)
        assert not glob.glob(f"{d}/delta-*.parquet")  # no delta files left
        assert glob.glob(f"{d}/part-*.parquet")  # bulk layout
        np.testing.assert_array_equal(assemble_level(spark, q_path, z, spec), before[z])

    # second compact is a no-op (already bulk)
    assert compact_pyramid(spark, q_path, run_id="c1") == {}

    # manifest rows committed -> resume sees every level as done and
    # continues without recomputing (no-op completes, pixels unchanged)
    assert committed_levels(spark, q_path, "c0") == [0, 1, 2]
    images = spark.createDataFrame(rows, IMAGES_DDL)
    build_pyramid(spark, images, q_path, G=4, reducer="mean", run_id="c0", resume=True)
    np.testing.assert_array_equal(assemble_level(spark, q_path, 2, spec), before[2])

    # and the filewise guard now refuses streaming patches (bulk layout):
    # the layout check fires before any row is written
    with pytest.raises(ValueError, match="bulk files"):
        _write_tiles_filewise([], q_path, 0)


def test_streaming_ingest_encoded_formats(spark, tmp_path):
    """The streaming path shares the fmt-aware base stage: a stream of
    png/jpeg-encoded images builds the same pyramid as raw rows carrying
    the identical decoded pixels."""
    from pyramidscheme_jl_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from pyramidscheme_jl_spark.functions.media_codecs import encode_png
    from pyramidscheme_jl_spark.operators.build import PyramidSpec
    from pyramidscheme_jl_spark.sources.synth import image_pixels
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    G = 2
    rows_enc, planes = [], {}
    for i in range(G * G):
        img = image_pixels(i % G, i // G)
        if i % 2 == 0:
            payload, pixels = encode_png(img), img
        else:
            payload = encode_jpeg(img, quality=95)
            pixels = decode_jpeg(payload)
        rows_enc.append(
            {"image_id": f"img-{i:08d}", "bytes": payload, "w": 256, "h": 256,
             "fmt": "png" if i % 2 == 0 else "jpeg", "caption": "c", "phash": 0}
        )
        planes[(i % G, i // G)] = pixels
    src = tmp_path / "enc_src"
    src.mkdir()
    spark.createDataFrame(rows_enc, IMAGES_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "enc_pyr")
    ingest_images(spark, f"{src}/*", q_path, G=G).awaitTermination(120)

    spec = PyramidSpec(512, 512)
    base = np.zeros((512, 512), dtype=np.uint8)
    for (tx, ty), px in planes.items():
        base[ty * 256 : (ty + 1) * 256, tx * 256 : (tx + 1) * 256] = px
    got0 = assemble_level(spark, q_path, 0, spec)
    np.testing.assert_array_equal(got0, base)
    got1 = assemble_level(spark, q_path, 1, spec)
    np.testing.assert_allclose(got1, oracle_levels(base, "mean", 1)[1], rtol=1e-12)


def test_streaming_multiscales_deferred_to_first_commit(spark, tmp_path):
    """The interchange doc lands only after >=1 successful micro-batch;
    open() on a just-started/empty stream target fails loudly instead of
    advertising levels whose paths don't exist (ADVICE r3). Tile bytes
    never transit the driver: the write stage yields only integer keys."""
    import os

    from pyramidscheme_jl_spark.api import PyramidDataset
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    src = tmp_path / "ms_src"
    src.mkdir()
    q_path = str(tmp_path / "ms_pyr")
    # empty source: availableNow stream terminates with zero committed rows
    spark.createDataFrame([], IMAGES_DDL).coalesce(1).write.parquet(str(src / "b0"))
    ingest_images(spark, f"{src}/*", q_path, G=2).awaitTermination(120)
    assert not os.path.exists(os.path.join(q_path, "_multiscales.json"))
    with pytest.raises(Exception):
        PyramidDataset.open(spark, q_path)

    spark.createDataFrame(synth_images(G=2), IMAGES_DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b0"))
    ingest_images(spark, f"{src}/*", q_path, G=2).awaitTermination(120)
    assert os.path.exists(os.path.join(q_path, "_multiscales.json"))
    ds = PyramidDataset.open(spark, q_path)
    assert ds.spec.nlevels == 1


def test_streaming_multipass_cascade(spark, tmp_path, monkeypatch):
    """Deep pyramids take multiple cascade passes (nlevels > K). Forcing
    K=1 at G=4 exercises every pass boundary — results must equal the
    batch build, with zero tile bytes on the driver (review r4: the old
    driver tail multiplied by the touched-slice count for cubes)."""
    import pyramidscheme_jl_spark.streaming.ingest as ing
    from pyramidscheme_jl_spark.operators.build import PyramidSpec

    monkeypatch.setattr(ing, "_CASCADE_LEVELS", 1)
    src = tmp_path / "mp_src"
    src.mkdir()
    rows = synth_images(G=4)
    spark.createDataFrame(rows, IMAGES_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "mp_pyr")
    ing.ingest_images(spark, f"{src}/*", q_path, G=4).awaitTermination(120)
    spec = PyramidSpec(1024, 1024)
    oracle = oracle_levels(mosaic_pixels(G=4), "mean", 2)
    for z in (0, 1, 2):
        np.testing.assert_allclose(assemble_level(spark, q_path, z, spec), oracle[z], rtol=1e-12)


@pytest.mark.parametrize("arm", ["spark_pass", "driver_tail"])
def test_cascade_skips_recomputed_tile_files(spark, tmp_path, monkeypatch, arm):
    """The cascade never reads a stored tile it recomputes in-group: with a
    GARBAGE file planted at a level-1 key the batch recomputes, the patch
    still succeeds and matches the oracle — on the Spark pass (forced by
    a zero tail gate) and on the driver tail. The batch touches one base
    tile under every level-1 tile, so no level-1 sibling survives the
    read rule and level 1 is not read at all."""
    import os

    import pyramidscheme_jl_spark.streaming.ingest as ing
    from pyramidscheme_jl_spark.operators.build import PyramidSpec
    from pyramidscheme_jl_spark.sources.catalog import level_path
    from pyramidscheme_jl_spark.sources.synth import encode_tile, image_row

    if arm == "spark_pass":
        monkeypatch.setattr(ing, "_TAIL_MAX_CHANGED", 0)
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(synth_images(G=4), IMAGES_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "pyr")
    ing.ingest_images(spark, f"{src}/*", q_path, G=4).awaitTermination(120)

    with open(os.path.join(level_path(q_path, 1), "tile-000000-000000.parquet"), "w") as f:
        f.write("not parquet at all")
    base = mosaic_pixels(G=4).copy()
    repl = []
    for i, slot in enumerate((0, 2, 8, 10)):  # base (0,0), (2,0), (0,2), (2,2)
        r = dict(image_row(slot, G=4))
        px = np.full((256, 256), 20 * i + 5, dtype=np.uint8)
        r["bytes"] = encode_tile(px)
        repl.append(r)
        ty, tx = divmod(slot, 4)
        base[256 * ty:256 * (ty + 1), 256 * tx:256 * (tx + 1)] = px
    spark.createDataFrame(repl, IMAGES_DDL).coalesce(1).write.parquet(str(src / "b1"))
    ing.ingest_images(spark, f"{src}/*", q_path, G=4).awaitTermination(120)

    oracle = oracle_levels(base, "mean", 2)
    spec = PyramidSpec(1024, 1024)
    for z in (0, 1, 2):
        np.testing.assert_allclose(assemble_level(spark, q_path, z, spec), oracle[z], rtol=1e-12)


def test_streaming_refuses_non_decomposable_reducer(spark, tmp_path):
    """The flat stream, like the cube stream, patches ancestors from their
    children, so median-of-medians would silently diverge from
    build_pyramid's direct median: refused before anything is written."""
    import os

    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    q_path = str(tmp_path / "pyr")
    with pytest.raises(ValueError, match="not decomposable"):
        ingest_images(spark, str(tmp_path / "src"), q_path, G=4, reducer="median")
    assert not os.path.exists(q_path)


def test_ivf_assign_expr_matches_numpy_argmin(spark):
    """Assignment/probe parity: the Arrow matmul UDFs (_assign_udf /
    _probe_udf) must reproduce np.argmin / stable argsort exactly,
    including negative scores and tie-break to the lowest list id."""
    import numpy as np

    from pyramidscheme_jl_spark.operators.similarity import (
        _assign_udf,
        _probe_udf,
        quantized,
    )

    rng = np.random.RandomState(42)
    nlist, dim, n = 8, 16, 64
    qcent = rng.randint(-1000, 1000, size=(nlist, dim)).astype(np.int64)
    qcent[3] = qcent[5]  # forced tie: distances to lists 3 and 5 equal
    vecs = rng.randn(n, dim).astype(float)
    vecs[0] = 0.0  # zero vector: every |c|^2 - 0 score, ties decided by id
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    q = quantized(df, "embedding")
    from pyspark.sql import functions as F

    got = {
        r["vec_id"]: (r["au"], r["pu"])
        for r in q.select(
            "vec_id",
            _assign_udf(qcent)(F.col("qvec")).alias("au"),
            _probe_udf(qcent, 3)(F.col("qvec")).alias("pu"),
        ).collect()
    }
    qv = np.floor(vecs * 1_000_000 + 0.5).astype(np.int64)
    c_norm = (qcent * qcent).sum(axis=1)
    scores = c_norm[None, :] - 2 * (qv @ qcent.T)
    for i in range(n):
        order = np.argsort(scores[i] * nlist + np.arange(nlist), kind="stable")
        assert got[i][0] == order[0], i
        assert got[i][1] == list(order[:3]), i


@pytest.mark.parametrize("layout", ["delta", "filewise"])
def test_streaming_rewrite_last_writer_wins(spark, tmp_path, layout):
    """Round 5 (VERDICT r4 #2): a later batch REPLACING an existing image
    must win at every level. In delta layout the old version stays on disk
    (higher-ordinal row supersedes it via read-side dedup); in filewise
    layout the file is overwritten. Both must read back as the batch build
    of the replaced mosaic."""
    import glob

    from pyramidscheme_jl_spark.operators.build import PyramidSpec
    from pyramidscheme_jl_spark.sources.catalog import level_path, read_tiles
    from pyramidscheme_jl_spark.sources.synth import encode_tile, image_row
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    src = tmp_path / "src"
    src.mkdir()
    rows = synth_images(G=4)
    spark.createDataFrame(rows, IMAGES_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "pyr")
    ingest_images(spark, f"{src}/*", q_path, G=4, layout=layout).awaitTermination(120)

    # batch 1: image 0 (slot (0,0)) replaced by constant-7 pixels
    repl = dict(image_row(0, G=4))
    new_px = np.full((256, 256), 7, dtype=np.uint8)
    repl["bytes"] = encode_tile(new_px)
    spark.createDataFrame([repl], IMAGES_DDL).coalesce(1).write.parquet(str(src / "b1"))
    ingest_images(spark, f"{src}/*", q_path, G=4, layout=layout).awaitTermination(120)

    base = mosaic_pixels(G=4).copy()
    base[:256, :256] = new_px
    oracle = oracle_levels(base, "mean", 2)
    spec = PyramidSpec(1024, 1024)
    for z in (0, 1, 2):
        np.testing.assert_allclose(assemble_level(spark, q_path, z, spec), oracle[z], rtol=1e-12)

    # dedup contract: one row per tile key despite multiple on-disk versions
    assert read_tiles(spark, q_path).count() == 16 + 4 + 1
    if layout == "delta":
        import pyarrow.parquet as pq

        # the superseded version is physically still there at z=0
        n_versions = sum(
            len(pq.read_table(f, columns=["tx"]))
            for f in glob.glob(f"{level_path(q_path, 0)}/delta-*.parquet")
        )
        assert n_versions == 17  # 16 originals + 1 replacement
    else:
        assert len(glob.glob(f"{level_path(q_path, 0)}/tile-*.parquet")) == 16


def test_streaming_layout_mixing_refused(tmp_path):
    """Writing one streaming layout into a level holding the other is
    refused before any row lands (the dedup contract would be ambiguous)."""
    import os

    from pyramidscheme_jl_spark.streaming.ingest import _assert_stream_layout

    path = str(tmp_path / "pyr")
    d = os.path.join(path, "tiles", "z=0")
    os.makedirs(d)
    open(os.path.join(d, "tile-000000-000000.parquet"), "wb").close()
    with pytest.raises(ValueError, match="mixing streaming layouts"):
        _assert_stream_layout(path, 0, "delta")
    open(os.path.join(d, "delta-b00000000-p00000.parquet"), "wb").close()
    with pytest.raises(ValueError, match="mixing streaming layouts"):
        _assert_stream_layout(path, 0, "filewise")
    # reads accept either streaming layout
    assert _assert_stream_layout(path, 0) == d


def test_fs_seam_injection(spark, tmp_path):
    """VERDICT r4 #4: the fsio seam is honored on BOTH sides — executors
    publish tiles through the injected fs (proven by hidden marker files
    written next to each delta file) and the driver swaps compacted levels
    through it (proven by a swap call count). Behavior is unchanged."""
    import glob
    import os

    from pyramidscheme_jl_spark.sources.fsio import LocalFS
    from pyramidscheme_jl_spark.streaming.ingest import compact_pyramid, ingest_images

    # defined INSIDE the test so cloudpickle ships it by value to executors
    class MarkerFS(LocalFS):
        def publish_file(self, d, fname, write_fn):
            # fname may be a callable (content-derived names); the base
            # impl resolves it and returns the final name
            final = super().publish_file(d, fname, write_fn)
            open(os.path.join(d, f".marker-{final}"), "w").close()
            return final

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(synth_images(G=4), IMAGES_DDL).coalesce(1).write.parquet(
        str(src / "b0")
    )
    q_path = str(tmp_path / "pyr")
    ingest_images(spark, f"{src}/*", q_path, G=4, fs=MarkerFS()).awaitTermination(120)
    deltas = glob.glob(f"{q_path}/tiles/z=*/delta-*.parquet")
    markers = glob.glob(f"{q_path}/tiles/z=*/.marker-delta-*.parquet")
    assert deltas and len(markers) == len(deltas)

    class CountingFS(LocalFS):
        def __init__(self):
            self.swaps = 0

        def swap_dir(self, new, live, backup):
            self.swaps += 1
            super().swap_dir(new, live, backup)

    cfs = CountingFS()
    done = compact_pyramid(spark, q_path, run_id="c0", fs=cfs)
    assert set(done) == {0, 1, 2} and cfs.swaps == 3
    for z in (0, 1, 2):
        assert glob.glob(f"{q_path}/tiles/z={z}/part-*.parquet")


def test_delta_auto_compaction_bounds_file_count(spark, tmp_path):
    """Round 5: in-stream LSM merge — once the base level exceeds
    max_delta_files delta files, the winners are rewritten as a handful
    of merged files and the superseded ones deleted, WITHOUT leaving the
    delta layout (the stream keeps running). Values stay exact."""
    import glob

    from pyramidscheme_jl_spark.operators.build import PyramidSpec
    from pyramidscheme_jl_spark.sources.catalog import level_path, read_tiles
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    src = tmp_path / "src"
    src.mkdir()
    rows = synth_images(G=4)
    # 8 single-image batch files -> 8 micro-batches inside ONE query
    for i in range(8):
        spark.createDataFrame([rows[i]], IMAGES_DDL).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    q_path = str(tmp_path / "pyr")
    ingest_images(
        spark, f"{src}/*", q_path, G=4, max_files_per_trigger=1, max_delta_files=3
    ).awaitTermination(300)

    deltas = glob.glob(f"{level_path(q_path, 0)}/delta-*.parquet")
    # without compaction: 8 files (one per batch); with threshold 3 the
    # count stays small and merged files (-m tags) exist
    assert len(deltas) <= 3 + 2, deltas
    assert any("-m" in f for f in deltas)

    # values: the 8 ingested images' tiles are exact; ancestors patched
    spec = PyramidSpec(1024, 1024)
    got = {
        (r["z"], r["tx"], r["ty"]): r["vmean"]
        for r in read_tiles(spark, q_path).collect()
    }
    assert len([k for k in got if k[0] == 0]) == 8
    for i in range(8):
        gx, gy = i % 4, i // 4
        px = image_pixels(gx, gy)
        assert got[(0, gx, gy)] == px.astype(float).mean()


def test_delta_stale_same_ordinal_duplicate_is_harmless(spark, tmp_path):
    """The delta docstring's retry claim, pinned: a stale leftover file
    from a re-partitioned batch retry holds value-identical rows at the
    SAME ordinal — readers must still return exactly one correct row per
    tile key (arbitrary pick among identical rows), and a later rewrite
    (higher ordinal) must beat both copies."""
    import glob
    import shutil

    from pyramidscheme_jl_spark.sources.catalog import level_path, read_level
    from pyramidscheme_jl_spark.sources.synth import encode_tile, image_row
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    src = tmp_path / "src"
    src.mkdir()
    rows = synth_images(G=2)
    spark.createDataFrame(rows, IMAGES_DDL).coalesce(1).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "pyr")
    ingest_images(spark, f"{src}/*", q_path, G=2).awaitTermination(120)

    # simulate the stale partial file: duplicate batch 0's delta file
    # under a different partition id (same ordinal, same rows)
    d = level_path(q_path, 0)
    f0 = glob.glob(f"{d}/delta-b*-p*.parquet")[0]
    shutil.copy(f0, f0.replace("-p", "-p9"))

    lvl = read_level(spark, q_path, 0)
    assert lvl.count() == 4  # one row per tile despite the duplicate file
    before = {(r["tx"], r["ty"]): r["vmean"] for r in lvl.collect()}
    for i, r in enumerate(rows):
        gx, gy = i % 2, i // 2
        assert before[(gx, gy)] == image_pixels(gx, gy).astype(float).mean()

    # higher-ordinal rewrite beats BOTH same-ordinal copies
    repl = dict(image_row(0, G=2))
    repl["bytes"] = encode_tile(np.full((256, 256), 3, dtype=np.uint8))
    spark.createDataFrame([repl], IMAGES_DDL).coalesce(1).write.parquet(str(src / "b1"))
    ingest_images(spark, f"{src}/*", q_path, G=2).awaitTermination(120)
    after = {(r["tx"], r["ty"]): r["vmean"] for r in read_level(spark, q_path, 0).collect()}
    assert after[(0, 0)] == 3.0
    assert after[(1, 0)] == before[(1, 0)]


def test_pq_topk_recall_and_exact_adc(spark):
    """Round 5: PQ/ADC ANN — (1) ADC scores must EXACTLY equal a numpy
    replay of encode + LUT-sum on the quantized grid (the integer-exact
    contract the DuckDB oracle relies on); (2) recall >= 0.8 vs exact
    euclidean brute force on clustered vectors."""
    from pyramidscheme_jl_spark.operators.similarity import (
        pq_topk,
        quantized_centroids,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(4)
    dim, ncl, per = 16, 8, 25
    centers = rng.randn(ncl, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in range(ncl):
        for _ in range(per):
            rows.append((vid, [float(x) for x in centers[c] + 0.03 * rng.randn(dim)]))
            vid += 1
    # array<double>: the exact-ADC contract is on the fixed-point grid of
    # the stored values; a float column would quantize the float32
    # roundings instead (recall tests elsewhere use float)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where("vec_id % 40 = 0")
    m, ksub, seed, k = 4, 8, 7, 5
    got = pq_topk(df, queries, k=k, m=m, ksub=ksub, seed=seed,
                  train_size=200, rerank=None).collect()  # raw ADC order

    # numpy replay on the same fixed-point grid
    vecs = {i: np.floor(np.array(v, dtype=np.float64) * 1_000_000 + 0.5).astype(np.int64)
            for i, v in rows}
    sample = np.array([v for _, v in rows[:200]], dtype=np.float64)
    books = train_pq_codebooks(sample, m, ksub, seed)
    qb = quantized_centroids(books.reshape(m * ksub, -1)).reshape(m, ksub, -1)
    d = dim // m
    def codes_of(q):
        out = []
        for i in range(m):
            sub = q[i * d : (i + 1) * d]
            diff = sub[None, :] - qb[i]
            s = (diff * diff).sum(axis=1)
            out.append(int(np.argmin(s * ksub + np.arange(ksub))))
        return out
    def adc(qid, nid):
        q, n = vecs[qid], vecs[nid]
        c = codes_of(n)
        total = 0
        for i in range(m):
            sub = q[i * d : (i + 1) * d]
            diff = sub - qb[i][c[i]]
            total += int((diff * diff).sum())
        return total
    for r in got:
        assert r["adc"] == adc(r["query_id"], r["n_id"]), (r, adc(r["query_id"], r["n_id"]))

    # pure ADC cannot rank within-cell ties — its recall is checked at the
    # CLUSTER level (every hit from the query's own cluster)...
    for r in got:
        assert r["n_id"] // per == r["query_id"] // per, r

    # ...and the DEFAULT (rerank="auto", VERDICT r6 #7: one count job
    # sizes R to the max identical-codes cell) must reach set-level
    # recall >= 0.9 vs the exact euclidean brute force
    refined = pq_topk(
        df, queries, k=k, m=m, ksub=ksub, seed=seed, train_size=200
    ).collect()
    exact = {}
    for qid in {r["query_id"] for r in refined}:
        q = vecs[qid]
        dists = sorted(
            ((int(((q - vecs[i]) ** 2).sum()), i) for i, _ in rows if i != qid)
        )[:k]
        exact[qid] = {i for _, i in dists}
    approx = {}
    for r in refined:
        approx.setdefault(r["query_id"], set()).add(r["n_id"])
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_ivfpq_topk_recall_and_exact_adc(spark):
    """Round 6 (VERDICT r5 #1): composed IVF-PQ — (1) every candidate's
    list must be one of the query's probed lists and its ADC score must
    EXACTLY equal a numpy replay of residual-encode + per-list LUT-sum on
    the quantized grid (the DuckDB-oracle contract); (2) the production
    shape (rerank) reaches recall >= 0.9 vs exact brute force."""
    import numpy as np

    from pyramidscheme_jl_spark.operators.similarity import (
        _centroid_scores_np,
        ivfpq_topk,
        train_ivfpq,
    )

    rng = np.random.RandomState(11)
    dim, ncl, per = 16, 8, 25
    centers = rng.randn(ncl, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in range(ncl):
        for _ in range(per):
            rows.append((vid, [float(x) for x in centers[c] + 0.03 * rng.randn(dim)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where("vec_id % 40 = 0")
    nlist, nprobe, m, ksub, seed, k = 4, 2, 4, 8, 7, 5
    got = ivfpq_topk(
        df, queries, k=k, nlist=nlist, nprobe=nprobe, m=m, ksub=ksub,
        seed=seed, train_size=200, rerank=None,  # raw ADC order
    ).collect()
    assert got

    # numpy replay on the same fixed-point grid
    vecs = {i: np.floor(np.array(v, dtype=np.float64) * 1_000_000 + 0.5).astype(np.int64)
            for i, v in rows}
    sample = np.array([v for _, v in rows[:200]], dtype=np.float64)
    qcent, qb = train_ivfpq(sample, nlist, m, ksub, seed)
    d = dim // m

    def assign(q):
        return int(_centroid_scores_np(qcent, q[None, :]).argmin(axis=1)[0])

    def probes(q):
        packed = _centroid_scores_np(qcent, q[None, :])[0] * nlist + np.arange(nlist)
        return [int(x) for x in np.argsort(packed)[:nprobe]]

    def codes_of(nid):
        r = vecs[nid] - qcent[assign(vecs[nid])]
        out = []
        for i in range(m):
            diff = r[i * d : (i + 1) * d][None, :] - qb[i]
            s = (diff * diff).sum(axis=1)
            out.append(int(np.argmin(s * ksub + np.arange(ksub))))
        return out

    def adc(qid, nid):
        lid = assign(vecs[nid])
        qr = vecs[qid] - qcent[lid]
        c = codes_of(nid)
        total = 0
        for i in range(m):
            diff = qr[i * d : (i + 1) * d] - qb[i][c[i]]
            total += int((diff * diff).sum())
        return total

    for r in got:
        assert assign(vecs[r["n_id"]]) in probes(vecs[r["query_id"]]), r
        assert r["adc"] == adc(r["query_id"], r["n_id"]), (
            r, adc(r["query_id"], r["n_id"]))

    # the DEFAULT (rerank="auto" occupancy rule, VERDICT r6 #7) is the
    # deployment shape; recall vs exact euclidean brute force
    refined = ivfpq_topk(
        df, queries, k=k, nlist=nlist, nprobe=nprobe, m=m, ksub=ksub,
        seed=seed, train_size=200,
    ).collect()
    exact = {}
    for qid in {r["query_id"] for r in refined}:
        q = vecs[qid]
        dists = sorted(
            ((int(((q - vecs[i]) ** 2).sum()), i) for i, _ in rows if i != qid)
        )[:k]
        exact[qid] = {i for _, i in dists}
    approx = {}
    for r in refined:
        approx.setdefault(r["query_id"], set()).add(r["n_id"])
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, f"recall {hits}/{total}"

    # rerank="auto" encodes the ANN_RECALL occupancy rule: R = max(4k,
    # ceil(N/nlist)) — here max(20, ceil(200/4)) = 50 — and must produce
    # rows identical to passing that R explicitly.
    from pyramidscheme_jl_spark.operators.similarity import auto_rerank

    assert auto_rerank(200, nlist, k) == 50
    assert auto_rerank(200_000, 64, 10) == 3125  # the measured 200k regime
    assert auto_rerank(10, 64, 10) == 40  # tiny corpus: the 4k floor
    auto = ivfpq_topk(
        df, queries, k=k, nlist=nlist, nprobe=nprobe, m=m, ksub=ksub,
        seed=seed, train_size=200, rerank="auto",
    ).collect()
    explicit = ivfpq_topk(
        df, queries, k=k, nlist=nlist, nprobe=nprobe, m=m, ksub=ksub,
        seed=seed, train_size=200, rerank=50,
    ).collect()
    srt = lambda rs: sorted((r["query_id"], r["rank"], r["n_id"], r["d2"]) for r in rs)
    assert srt(auto) == srt(explicit)
    with pytest.raises(ValueError, match="auto"):
        ivfpq_topk(df, queries, k=k, nlist=nlist, rerank="bogus")


def test_compaction_listdir_skipped_by_driver_counter(spark, tmp_path):
    """VERDICT r5 #7: with the per-stream file-count memo seeded, a
    steady batch must NOT list the delta level at all (one LIST per
    batch gone on an object store); an unseeded or threshold-crossing
    state must fall back to the real listing."""
    from pyramidscheme_jl_spark.sources.fsio import LocalFS
    from pyramidscheme_jl_spark.streaming.ingest import _maybe_compact_deltas

    class ExplodingFS(LocalFS):
        def listdir(self, d):
            raise AssertionError("listdir must be skipped")

    # seeded under-threshold state: returns without touching the fs
    state = {"files": 2}
    _maybe_compact_deltas(
        spark, str(tmp_path / "nope"), 0, 5, ExplodingFS(), 3, state=state
    )
    assert state["files"] == 2

    class CountingFS(LocalFS):
        def __init__(self):
            self.calls = 0

        def listdir(self, d):
            self.calls += 1
            return super().listdir(d)

    # unseeded state: one real listing corrects the memo to the actual
    # count (empty dir here) so later batches skip again
    d = tmp_path / "pyr" / "tiles" / "z=0"
    d.mkdir(parents=True)
    cfs = CountingFS()
    state = {"files": None}
    _maybe_compact_deltas(spark, str(tmp_path / "pyr"), 0, 5, cfs, 3, state=state)
    assert cfs.calls == 1 and state["files"] == 0


def test_delta_name_bounds_prune_driver_tail(spark, tmp_path):
    """Round 6: delta filenames carry the task's key bounds
    (-x<min>-<max>-y<min>-<max>) so the driver tail skips whole files
    without a footer open. Proven adversarially: a GARBAGE parquet file
    whose name-bounds don't intersect the needed siblings must be
    skipped (opening it would raise); bound-less legacy names still
    read; and real ingested files all carry bounds."""
    import glob
    import os

    from pyramidscheme_jl_spark.sources.catalog import _DELTA_BOUNDED, level_path
    from pyramidscheme_jl_spark.streaming.ingest import (
        _read_sibling_rows_local,
        ingest_images,
    )
    from pyramidscheme_jl_spark.sources.fsio import LocalFS

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(synth_images(G=4), IMAGES_DDL).coalesce(2).write.parquet(
        str(src / "b0")
    )
    q_path = str(tmp_path / "pyr")
    ingest_images(spark, f"{src}/*", q_path, G=4).awaitTermination(120)
    deltas = [
        os.path.basename(f)
        for f in glob.glob(f"{level_path(q_path, 0)}/delta-*.parquet")
    ]
    assert deltas and all(_DELTA_BOUNDED.match(f) for f in deltas), deltas

    # garbage file, bounds far outside the 4x4 grid: pruned by name, so
    # the read below cannot crash on it
    bad = os.path.join(level_path(q_path, 0), "delta-b00000099-p00099-x500-600-y500-600.parquet")
    with open(bad, "w") as f:
        f.write("not parquet at all")

    changed = {1: {(0, 0)}, 2: set()}
    pdf = _read_sibling_rows_local(q_path, changed, 1, 1, LocalFS())
    got = {(r.tx, r.ty) for r in pdf.itertuples()}
    assert got == {(0, 0), (0, 1), (1, 0), (1, 1)}

    # a bound-less legacy name IS opened — rename the garbage file to the
    # legacy pattern and the same read must now fail on it
    legacy = os.path.join(level_path(q_path, 0), "delta-b00000099-p00099.parquet")
    os.rename(bad, legacy)
    import pytest as _pytest

    with _pytest.raises(Exception):
        _read_sibling_rows_local(q_path, changed, 1, 1, LocalFS())
    os.remove(legacy)


def _stream_overlapping_batches(spark, tmp_path, cube: bool):
    """Three micro-batches in one query that rewrite overlapping slots,
    each batch split over two delta files, with in-stream compaction off
    so every superseded version stays on disk. Returns the pyramid path."""
    from pyramidscheme_jl_spark.sources.synth import encode_tile
    from pyramidscheme_jl_spark.streaming.ingest import ingest_cube_images, ingest_images

    G = 2 if cube else 4
    rows = synth_images(G=G)
    if cube:
        rows = [{**r, "t": t} for t in (0, 1) for r in rows]
    n = len(rows)
    batches = [rows, rows[: n // 2], rows[n // 4 : 3 * n // 4]]
    src = tmp_path / "src"
    src.mkdir(parents=True)
    ddl = IMAGES_DDL + (", t int" if cube else "")
    for b, part in enumerate(batches):
        part = [{**r, "bytes": encode_tile(np.full((256, 256), 10 * b + i, dtype=np.uint8))}
                if b else r for i, r in enumerate(part)]
        spark.createDataFrame(part, ddl).coalesce(2).write.parquet(str(src / f"b{b}"))
    q_path = str(tmp_path / "pyr")
    ingest = ingest_cube_images if cube else ingest_images
    ingest(
        spark, f"{src}/*", q_path, G=G, max_files_per_trigger=2, max_delta_files=None
    ).awaitTermination(300)
    return q_path


def test_read_tiles_local_matches_read_level(spark, tmp_path):
    """The driver reader and the Spark scan agree byte for byte per tile
    key on a streamed level holding several superseded versions (last
    writer wins on ``_ord``), with and without key filters, on a flat
    pyramid and on a streamed cube (``ts=``). A file that is listed but
    gone before it is opened, or a missing level, fails the read loudly."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from pyramidscheme_jl_spark.sources.catalog import level_path, read_level, read_tiles_local
    from pyramidscheme_jl_spark.sources.fsio import LocalFS

    def by_key(rows, keys):
        out = {tuple(int(r[k]) for k in keys): bytes(r["bytes"]) for r in rows}
        assert len(out) == len(rows), "duplicate tile keys"
        return out

    flat = _stream_overlapping_batches(spark, tmp_path / "flat", cube=False)
    deltas = glob.glob(f"{level_path(flat, 0)}/delta-*.parquet")
    assert sum(pq.read_metadata(f).num_rows for f in deltas) > 16  # superseded rows kept
    for z in (0, 1, 2):
        want = by_key(read_level(spark, flat, z).collect(), ("tx", "ty"))
        got = by_key(read_tiles_local(flat, z).to_dict("records"), ("tx", "ty"))
        assert got == want, z
    want0 = by_key(read_level(spark, flat, 0).collect(), ("tx", "ty"))
    got = by_key(read_tiles_local(flat, 0, [1, 2], [0, 3]).to_dict("records"), ("tx", "ty"))
    assert got == {k: v for k, v in want0.items() if k[0] in (1, 2) and k[1] in (0, 3)}

    cube = _stream_overlapping_batches(spark, tmp_path / "cube", cube=True)
    for z in (0, 1):
        want = by_key(read_level(spark, cube, z).collect(), ("t", "tx", "ty"))
        got = by_key(read_tiles_local(cube, z).to_dict("records"), ("t", "tx", "ty"))
        assert got == want, z
        got1 = by_key(read_tiles_local(cube, z, ts=[1]).to_dict("records"), ("t", "tx", "ty"))
        assert got1 == {k: v for k, v in want.items() if k[0] == 1}, z

    # a listed file vanishes before open: no retry, no partial result
    gone = str(tmp_path / "gone")
    shutil.copytree(flat, gone)

    class VanishingFS(LocalFS):
        def listdir(self, d):
            names = super().listdir(d)
            os.remove(os.path.join(d, sorted(n for n in names if n.startswith("delta-"))[0]))
            return names

    with pytest.raises(FileNotFoundError):
        read_tiles_local(gone, 0, fs=VanishingFS())
    with pytest.raises(FileNotFoundError):
        read_tiles_local(gone, 7)  # no such level


def test_driver_reads_start_no_spark_job(spark, tmp_path):
    """``read_window`` and ``read(z)`` run no Spark job (a positive
    control proves the job-group probe counts jobs), and ``read_window``
    opens only the files its tile range needs: a garbage bounded delta
    file whose name lies outside the window cannot break it."""
    import os

    from pyramidscheme_jl_spark.sources.catalog import level_path
    from pyramidscheme_jl_spark.streaming.ingest import ingest_images

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(synth_images(G=4), IMAGES_DDL).coalesce(2).write.parquet(str(src / "b0"))
    q_path = str(tmp_path / "pyr")
    ingest_images(spark, f"{src}/*", q_path, G=4).awaitTermination(120)
    ds = PyramidDataset.open(spark, q_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("read-probe-control", "control")
        spark.range(3).count()
        assert tracker.getJobIdsForGroup("read-probe-control")
        sc.setJobGroup("read-probe", "driver reads")
        win = ds.read_window((0.0, 0.0, 256.0, 256.0), (256, 256))
        top = ds.read(2)
        assert tracker.getJobIdsForGroup("read-probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    base = mosaic_pixels(G=4)
    assert win["z"] == 0
    np.testing.assert_array_equal(win["data"], base[:256, :256])
    np.testing.assert_allclose(top, oracle_levels(base, "mean", 2)[2], rtol=1e-12)

    bad = os.path.join(level_path(q_path, 0), "delta-b00000099-p00099-x2-3-y2-3.parquet")
    with open(bad, "w") as f:
        f.write("not parquet at all")
    win = ds.read_window((0.0, 0.0, 256.0, 256.0), (256, 256))
    np.testing.assert_array_equal(win["data"], base[:256, :256])


def test_ngram_contamination(spark):
    """r7: 13-gram-method decontamination — counts pinned against a
    python replay, short docs emit nothing, broadcast and shuffle arms
    identical."""
    from pyramidscheme_jl_spark.operators.dedup import ngram_contamination

    docs = [
        (1, "a b c d e f"),          # shares the 3-gram 'b c d' with bench
        (2, "x y z w v u"),          # clean
        (3, "a b c d x q"),          # shares 'a b c' 'b c d'
        (4, "t u"),                  # shorter than n: no row
        (5, "a b c d e f"),          # identical to doc 1
    ]
    bench = [(100, "q a b c d r s")]
    cdf = spark.createDataFrame(docs, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "doc_id long, text string")

    def grams(t, n):
        toks = t.split(" ")
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    bg = set()
    for _, t in bench:
        bg |= grams(t, 3)
    expect = {}
    for i, t in docs:
        g = grams(t, 3)
        if g:
            hit = len(g & bg)
            expect[i] = (len(g), hit, hit * 1000000 // len(g))
    for bc in (True, False):
        got = {
            r["doc_id"]: (r["n_grams"], r["contaminated"], r["frac_ppm"])
            for r in ngram_contamination(
                cdf, bdf, n=3, broadcast_benchmark=bc
            ).collect()
        }
        assert got == expect, bc
    assert 4 not in expect  # the short doc really is absent


def test_repetition_stats(spark):
    """r7 Gopher repetition metrics vs a python replay, incl. a
    fully-repetitive doc, a clean doc, and a too-short doc."""
    from collections import Counter

    from pyramidscheme_jl_spark.operators.text import repetition_stats

    docs = [
        (1, "spam spam spam spam spam"),
        (2, "a b c d e f g"),
        (3, "x y x y x y z"),
        (4, "one"),
    ]
    got = {
        r["doc_id"]: (r["n_grams"], r["top_ppm"], r["dup_ppm"])
        for r in repetition_stats(
            spark.createDataFrame(docs, "doc_id long, text string"), n=2
        ).collect()
    }
    expect = {}
    for i, t in docs:
        toks = t.split(" ")
        gs = [" ".join(toks[j:j + 2]) for j in range(len(toks) - 1)]
        if not gs:
            continue
        c = Counter(gs)
        expect[i] = (
            len(gs),
            max(c.values()) * 1000000 // len(gs),
            (len(gs) - len(c)) * 1000000 // len(gs),
        )
    assert got == expect
    assert 4 not in got
    assert got[1][1] == 1000000  # all occurrences are the same gram


def test_ivfpq_index_persist_roundtrip(spark, tmp_path):
    """Round 8 (VERDICT r7 #2): the persisted-index query path must (1)
    return ranks BIT-IDENTICAL to ad-hoc ``ivfpq_topk`` with the same
    params (shared ``_ivfpq_score_topk``), (2) prune the codes scan to the
    probed ``list_id=`` partitions (PartitionFilters in the physical
    plan), (3) size rerank="auto" from the manifest's n_rows with no
    count job over the corpus, and (4) refuse rerank without data."""
    import numpy as np
    import pytest

    from pyramidscheme_jl_spark.operators.similarity import (
        ivfpq_topk,
        open_ivfpq_index,
        write_ivfpq_index,
    )

    rng = np.random.RandomState(5)
    dim, n = 16, 160
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where("vec_id < 3")
    params = dict(nlist=4, m=4, ksub=8, seed=7, train_size=120)
    path = str(tmp_path / "idx")
    doc = write_ivfpq_index(df, path, **params)
    assert doc["n_rows"] == n and doc["nlist"] == 4

    idx = open_ivfpq_index(spark, path)
    k, nprobe = 5, 2
    got = idx.topk(queries, k=k, nprobe=nprobe, rerank=None)
    want = ivfpq_topk(
        df, queries, k=k, nprobe=nprobe, rerank=None, **params
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, want), key=lambda t: (t[0], t[3])
    )

    # (2) scan-side partition pruning: the physical plan's codes FileScan
    # carries a list_id IN (...) PartitionFilter over the probed lists only
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines and any(
        "PartitionFilters" in ln and "list_id" in ln for ln in scan_lines
    ), plan

    # (3) rerank="auto" uses manifest n_rows (occupancy rule) and matches
    # the ad-hoc path's auto result exactly
    got_auto = idx.topk(queries, k=k, nprobe=nprobe, rerank="auto", data=df)
    want_auto = ivfpq_topk(
        df, queries, k=k, nprobe=nprobe, rerank="auto", **params
    ).collect()
    assert sorted(map(tuple, got_auto.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, want_auto), key=lambda t: (t[0], t[3])
    )

    # (4) rerank without the raw-vector table is an error, as is a bogus
    # rerank string or opening a non-index path
    with pytest.raises(ValueError, match="data="):
        idx.topk(queries, k=k, rerank=4)
    with pytest.raises(ValueError, match="rerank"):
        idx.topk(queries, k=k, rerank="bogus")
    with pytest.raises(FileNotFoundError):
        open_ivfpq_index(spark, str(tmp_path / "nope"))


_ANN_TRAIN = dict(seed=7, train_size=120)
_ANN_PQ = dict(m=4, ksub=8, **_ANN_TRAIN)
_ANN_IVFPQ = dict(nlist=4, **_ANN_PQ)


@pytest.fixture(scope="module")
def ann_setup(spark, tmp_path_factory):
    """160 x 16 seeded vectors, 4 queries and an ``nlist=4`` persisted
    IVF-PQ index over them."""
    from pyramidscheme_jl_spark.operators.similarity import (
        open_ivfpq_index,
        write_ivfpq_index,
    )

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(160)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path_factory.mktemp("ann") / "idx")
    write_ivfpq_index(df, path, **_ANN_IVFPQ)
    return df, df.where("vec_id < 4"), open_ivfpq_index(spark, path)


def _ann_entry_points(df, queries, idx):
    """name -> (keywords it takes, call) for the six top-k entry points."""
    from pyramidscheme_jl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
        pq_topk,
    )

    return {
        "brute_force_topk": ({"k"}, lambda **kw: brute_force_topk(df, queries, **kw)),
        "lsh_topk": (
            {"k"},
            lambda **kw: lsh_topk(df, queries, bits=4, seed=7, dim=16, probes=1, **kw),
        ),
        "ivf_topk": (
            {"k", "nprobe"},
            lambda **kw: ivf_topk(df, queries, nlist=4, **_ANN_TRAIN, **kw),
        ),
        "pq_topk": ({"k", "rerank"}, lambda **kw: pq_topk(df, queries, **_ANN_PQ, **kw)),
        "ivfpq_topk": (
            {"k", "nprobe", "rerank"},
            lambda **kw: ivfpq_topk(df, queries, **_ANN_IVFPQ, **kw),
        ),
        "IvfPqIndex.topk": (
            {"k", "nprobe", "rerank"},
            lambda **kw: idx.topk(queries, data=df, **kw),
        ),
    }


def _spark_jobs(spark, group, fn) -> int:
    """The number of Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Spark jobs per call on the ann_setup fixture, with no action on the
# result, as measured before plain PQ shared the IVF-PQ path: upper bounds.
_ANN_JOBS = {
    "brute_force_topk": 0,
    "lsh_topk": 0,
    "ivf_topk": 1,
    "pq_topk_none": 2,
    "pq_topk_int": 2,
    "pq_topk_auto": 5,
    "ivfpq_topk_none": 2,
    "ivfpq_topk_int": 2,
    "ivfpq_topk_auto": 4,
    "IvfPqIndex.topk_none": 2,
    "IvfPqIndex.topk_auto": 2,
}


def test_ann_jobs_per_call(spark, ann_setup):
    """Pins the Spark jobs every ANN entry point runs at call time (train
    sample, LUT queries, ``rerank="auto"`` counts) as upper bounds, and
    that the persisted index sizes ``rerank="auto"`` with no count job."""
    ep = _ann_entry_points(*ann_setup)
    calls = {}
    for name, (_, call) in ep.items():
        if name in ("brute_force_topk", "lsh_topk", "ivf_topk"):
            calls[name] = call
            continue
        for mode, rerank in (("none", None), ("int", 50), ("auto", "auto")):
            if (name, mode) != ("IvfPqIndex.topk", "int"):
                calls[f"{name}_{mode}"] = lambda c=call, r=rerank: c(rerank=r)
    jobs = {name: _spark_jobs(spark, f"ann-jobs-{name}", c) for name, c in calls.items()}
    assert jobs.keys() == _ANN_JOBS.keys()
    over = {k: (n, _ANN_JOBS[k]) for k, n in jobs.items() if n > _ANN_JOBS[k]}
    assert not over, over
    assert jobs["IvfPqIndex.topk_auto"] <= jobs["IvfPqIndex.topk_none"], jobs


@pytest.mark.parametrize(
    "arg,value,match",
    [
        ("k", 0, "k must be >= 1"),
        ("k", -1, "k must be >= 1"),
        ("nprobe", 0, "nprobe must be >= 1"),
        ("nprobe", -1, "nprobe must be >= 1"),
        ("rerank", -3, "rerank must be"),
        ("rerank", "bogus", "rerank must be"),
    ],
)
def test_ann_bad_args_rejected_before_any_job(spark, ann_setup, arg, value, match):
    """A non-positive ``k`` or ``nprobe``, a negative ``rerank`` or a
    ``rerank`` string other than ``"auto"`` raises at call time, before
    any Spark job, in every entry point that takes it (before, they
    returned too few LUT rows or empty results)."""
    jobs = {}
    for name, (takes, call) in _ann_entry_points(*ann_setup).items():
        if arg not in takes:
            continue

        def rejected(call=call):
            with pytest.raises(ValueError, match=match):
                call(**{arg: value})

        jobs[name] = _spark_jobs(spark, f"ann-bad-{arg}{value}-{name}", rejected)
    assert jobs and not any(jobs.values()), jobs


def test_lsh_topk_hyperplane_needs_dim(spark, ann_setup):
    """Hyperplane buckets (``seed`` given) need ``dim``: ``lsh_topk``
    raises at call time, multi-probe included, with no Spark job."""
    from pyramidscheme_jl_spark.operators.similarity import lsh_topk

    df, queries, _ = ann_setup

    def rejected():
        with pytest.raises(ValueError, match="hyperplane LSH needs the embedding dim"):
            lsh_topk(df, queries, seed=1, dim=None, probes=2)

    assert _spark_jobs(spark, "ann-lsh-no-dim", rejected) == 0


def test_ann_string_query_ids_over_bigint_corpus(spark, ann_setup):
    """Six string-keyed queries over the bigint-keyed corpus, the vectors
    of corpus rows 0-5 under ids ``"0" "1" "2" "q3" "q4" "q5"``: every
    top-k entry point (and the shuffled LSH path) returns the rows of the
    same vectors keyed 0, 1, 2, 1003, 1004, 1005, and still excludes a
    query's own row. The plain ``n_id != query_id`` cast ``"q3"`` to
    bigint and failed the scoring job with ``CAST_INVALID_INPUT``."""
    from pyramidscheme_jl_spark.operators.similarity import lsh_topk

    df, _, idx = ann_setup
    six = df.where("vec_id < 6")
    low = F.col("vec_id") < 3
    long_q = six.select(F.when(low, F.col("vec_id")).otherwise(F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    str_q = six.select(
        F.when(low, F.col("vec_id").cast("string")).otherwise(F.format_string("q%d", "vec_id")).alias("vec_id"),
        "embedding",
    )
    as_str = {str(1000 + i): f"q{i}" for i in range(3, 6)}

    def rows(out):
        return sorted(
            (as_str.get(str(r[0]), str(r[0])), *(str(v) for v in r[1:])) for r in out.collect()
        )

    bad = {}
    for name, (_, call) in _ann_entry_points(df, long_q, idx).items():
        want = rows(call())
        got = rows(_ann_entry_points(df, str_q, idx)[name][1]())
        if got != want or not got or any(r[0] == r[1] for r in got):
            bad[name] = (got, want)
    shuffled = dict(bits=4, seed=7, dim=16, probes=1, broadcast_queries=False)
    if rows(lsh_topk(df, str_q, **shuffled)) != rows(lsh_topk(df, long_q, **shuffled)):
        bad["lsh_topk_shuffled"] = True
    assert not bad, bad
