"""Scale hardening of the candidate-generation operators:

- adversarial skew: a flood of identical documents/vectors (one
  degenerate bucket) must NOT go quadratic in the LSH self-joins — the
  bucket cap drops it before the join while small buckets still pair;
- OR-amplification: multi-table random-hyperplane ANN must recover
  strictly more near- (not identical-) neighbour pairs than one table,
  with recall measured against the exact ground truth.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bank_statement_pdf_parser_spark.operators.ann import (
    ann_candidate_pairs, rhp_buckets)
from bank_statement_pdf_parser_spark.operators.neardup import (
    lsh_candidates, minhash_signatures, shingles)


def test_lsh_bucket_cap_bounds_candidates(spark):
    flood = [(i, "the same boilerplate text repeated everywhere forever")
             for i in range(2000)]
    pair = [(9001, "a genuinely unique document about spark lsh banding"),
            (9002, "a genuinely unique document about spark lsh banding")]
    df = spark.createDataFrame(flood + pair, "doc_id long, text string")
    cand = lsh_candidates(minhash_signatures(shingles(df, k=3), n_hashes=16),
                          n_bands=4, max_bucket=200)
    got = {(r.a, r.b) for r in cand.collect()}
    # 2000 identical docs would otherwise emit ~2M pairs per band
    assert got == {(9001, 9002)}


def test_ann_bucket_cap_bounds_candidates(spark):
    rng = np.random.default_rng(3)
    same = [float(x) for x in rng.normal(size=16)]
    uniq = [float(x) for x in rng.normal(size=16)]
    rows = [(i, same) for i in range(3000)]
    rows += [(9001, uniq), (9002, uniq)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sig = rhp_buckets(df, n_planes=10, dim=16, n_tables=2)
    got = {(r.a, r.b) for r in ann_candidate_pairs(sig, max_bucket=500)
           .collect()}
    assert got == {(9001, 9002)}


def _twin_corpus(n=200, dim=16, noise=0.15, seed=11):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, dim))
    twin = base + noise * rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    rows += [(i + 1000, [float(x) for x in twin[i]]) for i in range(n)]
    return rows


def _recall(spark, rows, n_tables):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sig = rhp_buckets(df, n_planes=12, dim=16, n_tables=n_tables)
    cand = ann_candidate_pairs(sig)
    hits = (cand.filter(F.col("b") == F.col("a") + 1000).count())
    return hits / (len(rows) // 2)


def test_lattice_rail_voting_recovers_damaged_rows(spark):
    """D6 generic lattice: the voted rails slice a row that LOST its
    final rail (per-line pipe splitting drops that cell — the frozen
    OCBC path's documented limitation)."""
    from bank_statement_pdf_parser_spark.operators.lattice import (
        cells_at_rails, vote_rails)
    from bank_statement_pdf_parser_spark.oracle.parser import _ocbc_cells
    good = "|   a    |x                   |        1.01|"
    bad = good[:-1]  # OCR lost the trailing rail
    df = spark.createDataFrame(
        [(0, good), (1, good), (2, bad)], "row_id long, line string")
    out = {r.row_id: r.cells
           for r in cells_at_rails(df, vote_rails(df)).collect()}
    assert out[2] == ["a", "x", "1.01"]  # recovered despite damage
    assert out[0] == ["a", "x", "1.01"]
    # the per-line splitter (exact for well-formed lattices) loses it:
    assert [t for _, _, _, t in _ocbc_cells(bad, 0)] == ["a", "x"]


def test_ann_cap_drop_is_observable(spark):
    """The skew cap has no exact-dedup fallback on the ANN side, so its
    recall loss must be reported, not silent: the Observation seam
    records how many buckets/rows the guard discarded."""
    from pyspark.sql import Observation
    rng = np.random.default_rng(5)
    same = [float(x) for x in rng.normal(size=16)]
    uniq = [float(x) for x in rng.normal(size=16)]
    rows = [(i, same) for i in range(100)] + [(9001, uniq), (9002, uniq)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sig = rhp_buckets(df, n_planes=10, dim=16, n_tables=2)
    obs = Observation("ann_drops")
    cand = ann_candidate_pairs(sig, max_bucket=10, observation=obs)
    # the flood's pairs are gone, the small bucket still pairs
    assert {(r.a, r.b) for r in cand.collect()} == {(9001, 9002)}
    # identical vectors share all sign bits: exactly 1 bucket per table
    assert obs.get["dropped_rows"] == 200
    assert obs.get["dropped_buckets"] == 2  # HLL exact at this scale


def test_curation_fp_cap_drops_planted_hot_fingerprint(spark):
    """A planted ubiquitous fingerprint (boilerplate 8-gram shared by
    every doc) must be excluded from the pair join by the frequency
    cap — no quadratic bucket — while rare shared fingerprints still
    pair; the Observation reports the drop (no silent caps)."""
    from pyspark.sql import Observation
    from bank_statement_pdf_parser_spark.operators.neardup import (
        capped_shared_fp_counts)
    hot = [(d, 777) for d in range(50)]          # 50 docs -> over cap
    rare = [(1, 10), (2, 10), (2, 11), (3, 11)]  # under cap
    fps = spark.createDataFrame(hot + rare, "doc_id long, fp long")
    obs = Observation("cap")
    out = capped_shared_fp_counts(fps, max_fp_freq=10, observation=obs)
    pairs = {(r.a, r.b): r.n_shared for r in out.collect()}
    assert pairs == {(1, 2): 1, (2, 3): 1}  # hot fp contributed nothing
    assert obs.get["dropped_fp_rows"] == 50
    assert obs.get["dropped_fps"] == 1
    assert 45 <= obs.get["docs_affected"] <= 55  # HLL estimate, rsd 5%

    # without an observation the semi-join path drops the same bucket
    out2 = capped_shared_fp_counts(fps, max_fp_freq=10)
    assert {(r.a, r.b): r.n_shared
            for r in out2.collect()} == {(1, 2): 1, (2, 3): 1}


def test_lattice_guard_degenerate_rails(spark):
    """<2 voted rails (or a pipe-less corpus) must yield cells=[], not
    the descending-sequence garbage ADVICE.md flagged; empty lines must
    not break pipe_positions."""
    from bank_statement_pdf_parser_spark.operators.lattice import (
        cells_at_rails, vote_rails)
    df = spark.createDataFrame(
        [(0, "no rails here"), (1, ""), (2, "|lonely")],
        "row_id long, line string")
    rails = vote_rails(df, min_frac=0.9)  # nothing reaches 90%
    out = cells_at_rails(df, rails).collect()
    assert all(r.cells == [] for r in out)


def test_lattice_per_group_voting(spark):
    """group_cols: rails are voted per document — a doc with rails at
    different x positions must not inherit its neighbour's geometry."""
    from bank_statement_pdf_parser_spark.operators.lattice import (
        cells_at_rails, vote_rails)
    rows = [("d1", 0, "|aa|bb|"), ("d1", 1, "|cc|dd|"),
            ("d2", 0, "|  ee  |  ff  |"), ("d2", 1, "|  gg  |  hh  |")]
    df = spark.createDataFrame(rows, "doc string, row_id long, line string")
    out = cells_at_rails(df, vote_rails(df, group_cols=["doc"]),
                         group_cols=["doc"])
    got = {(r.doc, r.row_id): r.cells for r in out.collect()}
    assert got[("d1", 0)] == ["aa", "bb"]
    assert got[("d2", 1)] == ["gg", "hh"]


def test_ann_multiprobe_recall(spark):
    """Multi-probe: one table + probing the least-confident flipped
    bits must beat the same single table un-probed, while emitting
    fewer rows than the table count needed for similar recall."""
    from bank_statement_pdf_parser_spark.operators.ann import (
        ann_multiprobe_pairs, rhp_probe_buckets)
    rows = _twin_corpus()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def recall(n_probes):
        sig = rhp_probe_buckets(df, n_planes=12, dim=16, n_probes=n_probes)
        cand = ann_multiprobe_pairs(sig)
        return (cand.filter(F.col("b") == F.col("a") + 1000).count()
                / (len(rows) // 2))

    r0, r4 = recall(0), recall(4)
    r1table = _recall(spark, rows, n_tables=1)
    assert abs(r0 - r1table) < 0.05  # probe-less == plain single table
    assert r4 > r0 + 0.1
    assert r4 >= 0.75
    # emitted rows: 5n for 4 probes vs 4n..8n for the table count that
    # reaches similar recall (4 tables hit 0.96 in the table test)


def test_ann_multi_table_recall(spark):
    """OR-amplification: recall on ~0.98-cosine twins rises with the
    number of tables (1 - (1 - p^k)^L); single-table recall is the weak
    spot VERDICT.md flagged. Deterministic data + seeded planes."""
    rows = _twin_corpus()
    r1 = _recall(spark, rows, n_tables=1)
    r4 = _recall(spark, rows, n_tables=4)
    assert r4 > r1
    assert r4 >= 0.75


def test_ann_ivf_recall(spark):
    """IVF: nearest-centroid candidates find most twins; probing the
    second-nearest centroid recovers boundary twins the single-cell
    assignment splits. Runs at a small AND a realistic quantizer size,
    and pins that the plan stays O(1) in k (centers are broadcast
    data, not plan literals)."""
    from bank_statement_pdf_parser_spark.operators.ann import (
        ann_multiprobe_pairs, ivf_buckets, ivf_fit_centers)
    rows = _twin_corpus()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fitted = {k: ivf_fit_centers(df, k=k, seed=3) for k in (8, 64)}
    assert len(fitted[8]) == 8 and len(fitted[8][0]) == 16
    assert len(fitted[64]) == 64

    def recall(centers, n_probes):
        cand = ann_multiprobe_pairs(ivf_buckets(df, centers,
                                                n_probes=n_probes))
        return (cand.filter(F.col("b") == F.col("a") + 1000).count()
                / (len(rows) // 2))

    for k in (8, 64):
        r1, r2 = recall(fitted[k], 1), recall(fitted[k], 2)
        assert r2 >= r1
        assert r2 >= 0.85, f"k={k}: nprobe=2 recall {r2}"

    plan_len = {
        k: len(ivf_buckets(df, c, n_probes=2)
               ._jdf.queryExecution().analyzed().toString())
        for k, c in fitted.items()}
    assert plan_len[64] < plan_len[8] * 1.5, plan_len


def test_ivf_arrow_engine_parity(spark):
    """The Arrow (batched numpy matmul) IVF assignment must return the
    SAME (vec_id, bucket, is_probe) rows as the pure-Catalyst engine —
    same nearest/probe centroids, same stable smaller-index tie-break
    (exercised via duplicated centers, which tie exactly)."""
    from bank_statement_pdf_parser_spark.operators.ann import (
        ivf_buckets, ivf_fit_centers)
    rows = _twin_corpus()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = ivf_fit_centers(df, k=8, seed=3)
    centers = centers + [centers[0]]  # exact duplicate -> every row
    # nearest to center 0 ties with center 8; both engines must pick 0

    def key(engine_df):
        return sorted((r.vec_id, r.bucket, r.is_probe)
                      for r in engine_df.collect())

    for n_probes in (1, 2):
        cat = key(ivf_buckets(df, centers, n_probes=n_probes))
        arw = key(ivf_buckets(df, centers, n_probes=n_probes, arrow=True))
        assert cat == arw
    assert not any(b == 8 for _, b, _p in
                   key(ivf_buckets(df, centers, n_probes=1, arrow=True)))


def test_simhash_banding_recall_and_verify(spark):
    """Pigeonhole recall at the boundary: with n_bands=4 (16-bit
    chunks) every pair within hamming 3 shares at least one clean band,
    even when the 3 flipped bits land in 3 DIFFERENT bands; hamming-4
    pairs are excluded either by the verify filter (flips concentrated
    in one band -> still a candidate) or by banding itself (one flip
    per band -> no shared chunk). Sign bit covered: shiftright is
    arithmetic but the chunk mask discards the extension."""
    from bank_statement_pdf_parser_spark.operators.neardup import (
        simhash_neardup_pairs)
    def s64(x):  # wrap Python's unbounded xor back into signed 64-bit
        return ((x + (1 << 63)) % (1 << 64)) - (1 << 63)

    base = -0x123456789ABCDEF1  # sign bit set
    rows = [
        (0, base),
        (1, s64(base ^ (1 << 5))),                         # ham 1, band 0
        (2, s64(base ^ (1 << 5) ^ (1 << 21) ^ (1 << 40))),  # ham 3, 3 bands
        (3, s64(base ^ 0b1111)),                           # ham 4, one band
        (4, s64(base ^ (1 << 5) ^ (1 << 21) ^ (1 << 40) ^ (1 << 60))),
        (5, s64(base ^ (1 << 63))),                        # ham 1, sign band
    ]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r.a, r.b, r.hamming)
           for r in simhash_neardup_pairs(sig, max_hamming=3).collect()}
    assert (0, 1, 1) in got and (0, 5, 1) in got and (0, 2, 3) in got
    assert (1, 2, 2) in got  # transitive neighbours pair too
    assert (2, 4, 1) in got and (1, 4, 3) in got
    # the two hamming-4-from-base docs never pair WITH base: doc 3 is
    # a surviving candidate killed by the verify filter, doc 4 shares
    # no band with base at all
    assert not any({a, b} == {0, 3} or {a, b} == {0, 4} for a, b, _ in got)


def test_simhash_cap_drop_is_observable(spark):
    """A flood of identical signatures (one degenerate band bucket per
    band) must not go quadratic: the cap drops it before the self-join
    while a small near-dup pair still surfaces, and the Observation
    seam reports the loss (over-cap list broadcast, never the
    under-cap side)."""
    from pyspark.sql import Observation
    from bank_statement_pdf_parser_spark.operators.neardup import (
        simhash_neardup_pairs)
    hot = 0x0F0F0F0F0F0F0F0F
    rows = [(i, hot) for i in range(500)]
    # 0x4A has 3 bits set, all inside band 0 -> candidate via the
    # other three clean bands, verified at exactly hamming 3
    rows += [(9001, 0x7A5A5A5A5A5A5A5A),
             (9002, 0x7A5A5A5A5A5A5A5A ^ 0x4A)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    obs = Observation("simhash_drops")
    pairs = simhash_neardup_pairs(sig, max_hamming=3, max_bucket=100,
                                  observation=obs)
    got = {(r.a, r.b, r.hamming) for r in pairs.collect()}
    assert got == {(9001, 9002, 3)}
    assert obs.get["dropped_band_rows"] == 2000  # 500 docs x 4 bands
    assert obs.get["docs_affected"] >= 450  # HLL estimate of 500


def test_seed_centroid_exact_and_distributed(spark):
    """Centroid equals the hand mean; the plan aggregates partially
    (map-side combine) rather than folding arrays whole."""
    from pyspark.sql import functions as F

    from bank_statement_pdf_parser_spark.operators.ann import (
        seed_centroid)
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 30.0]), (2, [3.0, 4.0, -10.0]),
         (3, [5.0, 6.0, 10.0])],
        "vec_id long, embedding array<float>")
    row = seed_centroid(df).first()
    assert row.q_emb == [3.0, 4.0, 10.0]
    plan = seed_centroid(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_avg" in plan


def test_knn_batch_engines_agree_and_local_cut_lossless(spark):
    """arrow (local top-k cut per Arrow batch) and Catalyst (full
    broadcast cross join) engines must produce the SAME exact top-k,
    including under tiny Arrow batches — the lossless-cut claim: the
    global top-k under (round(cos,6) DESC, id ASC) is recoverable
    from per-batch top-k under the same total order."""
    from bank_statement_pdf_parser_spark.operators.ann import knn_topk_batch
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=16)])
            for i in range(400)]
    df = (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
          .repartition(8))
    qs = df.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        # 400 rows / 8 partitions / batches of 7 -> ~8 local cuts per
        # query feeding the final window
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        a = {(r.q_id, r.vec_id, r.cos_r, r.rnk)
             for r in knn_topk_batch(df, qs, k=9, arrow=True).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    b = {(r.q_id, r.vec_id, r.cos_r, r.rnk)
         for r in knn_topk_batch(df, qs, k=9, arrow=False).collect()}
    assert a == b
    assert len(a) == 4 * 9
    # each query's rank-1 neighbour is itself (cos 1.0)
    self_hits = {(q, v) for q, v, c, r in a if r == 1}
    assert self_hits == {(7, 7), (107, 107), (207, 207), (307, 307)}


def test_knn_batch_no_corpus_shuffle(spark):
    """The arrow plan's only Exchange carries the (batches x M x k)
    partial rows — the corpus reaches the kernel shuffle-free."""
    from bank_statement_pdf_parser_spark.operators.ann import knn_topk_batch
    rng = np.random.default_rng(6)
    rows = [(i, [float(x) for x in rng.normal(size=8)])
            for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.limit(2).select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_emb"))
    plan = (knn_topk_batch(df, qs, k=3)
            ._jdf.queryExecution().executedPlan().toString())
    pre, _, post = plan.partition("MapInPandas")
    # the scan side (below MapInPandas in the tree = printed after it)
    # must contain no Exchange; the one hash exchange feeds the window
    assert "Exchange" not in post
    assert pre.count("Exchange hashpartitioning") == 1


def test_minhash_estimator_bounds_and_portable_hash(spark):
    """est=1.0 on identical docs, 0.0 on disjoint docs, and the md5
    min-hash matches a driver-side replay of the same arithmetic
    (the ANSI-portability contract of minhash_md5_long)."""
    import hashlib
    from bank_statement_pdf_parser_spark.operators.neardup import (
        minhash_estimate_pairs, minhash_md5_long, shingles)
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    df = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t2)], "doc_id long, text string")
    sig = minhash_md5_long(shingles(df), n_hashes=8)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    got = {(r.a, r.b): r.est_jaccard
           for r in minhash_estimate_pairs(sig, pairs).collect()}
    assert got == {(1, 2): 1.0, (1, 3): 0.0}
    # portability: replay doc 3 / seed 5 on the driver
    toks = t2.split(" ")
    sh = {" ".join(toks[i:i + 5]) for i in range(len(toks) - 4)}
    want = min(hashlib.md5(f"5:{s}".encode()).hexdigest() for s in sh)
    row = [r for r in sig.collect() if r.doc_id == 3 and r.seed == 5]
    assert row[0].mh == want


def test_simhash_single_band_full_width(spark):
    """n_bands=1 (max_hamming=0): one 64-bit chunk — the all-bits mask
    must be the two's-complement -1, not (1<<64)-1 which overflows
    LongType (ADVICE r6). Exact-equal signatures pair; hamming>=1
    never survives the single-band equi-join."""
    from bank_statement_pdf_parser_spark.operators.neardup import (
        simhash_neardup_pairs)
    base = -0x123456789ABCDEF1
    rows = [(0, base), (1, base), (2, base ^ 1)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r.a, r.b, r.hamming)
           for r in simhash_neardup_pairs(sig, max_hamming=0).collect()}
    assert got == {(0, 1, 0)}
