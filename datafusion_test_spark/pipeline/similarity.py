"""Similarity search over `embeddings` (mandated tier, BASELINE.json:6).

- sim_topk          brute-force cosine top-k vs a query vector (SQL oracle)
- sim_pairwise_topk top-k most similar pairs, label-blocked (SQL oracle)
- sim_ann_lsh       random-hyperplane LSH ANN — the scale path (rows-only:
                    hash-derived planes, deterministic)
- sim_ivf           IVF ANN — spherical k-means coarse quantizer (Lloyd
                    iterations as DataFrame ops), nprobe cell search,
                    self-match + probed-subset invariants (SQL oracle)
- embed_quantize    symmetric int8 quantization + reconstruction-error
                    invariant (SQL oracle) — the ANN index compression step

Scale design (100 TB / billions of vectors):
- Brute force is the *baseline*: one scan, top-k via TakeOrderedAndProject
  (per-partition k-heaps, k rows to the driver) — embarrassingly parallel,
  no shuffle.  Right answer, O(N·d) per query.
- The scale path buckets vectors once by an r-bit random-hyperplane
  signature (IVF-style coarse quantization); each query probes only its
  bucket (and could probe neighbors for recall).  The expensive part — the
  signature — is computed in one pass and would be *persisted alongside the
  table* in a real deployment (a bucketed parquet write on `bucket`), making
  each query a partition-pruned scan instead of a full pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .._util import sql_dsum, sql_half_up
from ..io import SQL_FINITE_EMBEDDINGS, clear_memo, memo, parallel, table
from ._expr import cosine, dot, l2, lsh_bits, norm2, rh_signature, sql_cosine

_DIM = 64
# sim_pairwise_topk's hot-block bound (VERDICT r13 item 5): at most this
# many md5-ordered vectors per label block enter the exact self-join —
# every test corpus sits far below it (sf0.1 blocks ~218), so it only
# bounds pathological densities; stated identically in the oracle
_SIM_BLOCK_CAP = 512


def _query_vec(e):
    """The query vector: embedding of the min vec_id row WITH a usable
    embedding (1-row broadcast).  NULL embeddings — which, post io.table's
    finite-vector guard, include NaN/Inf-poisoned vectors (ieee corpus,
    round 7) — can't be queried against; production never issues a query
    from a failed forward pass."""
    e = e.filter(F.col("embedding").isNotNull())
    m = e.agg(F.min("vec_id").alias("qid"))
    return F.broadcast(
        e.join(F.broadcast(m), F.col("vec_id") == F.col("qid"))
        .select(F.col("embedding").alias("qvec"))
    )


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 against the query vector."""
    e = table(spark, sf_dir, "embeddings")
    q = _query_vec(e)
    return (
        e.crossJoin(q)
        .withColumn("cos", F.expr(cosine("embedding", "qvec")))
        .select("vec_id", "label", F.round("cos", 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(20)
    )


def sim_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most similar pairs overall, candidate pairs blocked by label.

    Norms are folded once per row (O(N·d)), not per pair (O(pairs·d)) —
    bit-identical result, ~3x less fold work in the self-join.

    Hot-block bound (VERDICT r13 item 5): this is the DECLARED exact
    contrast for sim_pairwise_lsh, quadratic in label-block density by
    construction — the r13 10× sweep priced it at 101× on a corpus whose
    every block got 10× denser.  Unbounded that is a single pathological
    label away from an unbounded task at 100 TB, so label blocks now get
    the dedup ``_DF_CAP`` discipline: a DETERMINISTIC md5(vec_id)-ordered
    rank within each label keeps at most _SIM_BLOCK_CAP vectors per
    block, stated IDENTICALLY in the oracle.  Every test corpus has
    blocks far below the cap (sf0.1: ~218-row blocks), so on real data
    the query stays the exact brute-force baseline; only a hot block
    degrades — deterministically, in both engines — to a uniform
    md5-drawn sample of itself, bounding the worst block at
    _SIM_BLOCK_CAP²/2 pairs.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        F.expr(f"SQRT({norm2('embedding')})").alias("nrm"),
    )
    w_blk = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    e = (
        e.withColumn("blk_rank", F.row_number().over(w_blk))
        .filter(F.col("blk_rank") <= _SIM_BLOCK_CAP)
        .drop("blk_rank")
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                F.expr(f"{dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)"), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_a"), F.col("vec_b"))
        .limit(10)
    )


def sim_pairwise_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucket-blocked pairwise top-10 — the 100 TB variant of
    sim_pairwise_topk's label blocking: candidate pairs come only from
    shared 8-bit random-hyperplane buckets (population ~N/256 and
    data-dependent, hot buckets capped), so the self-join cost is
    Σ bucket² instead of Σ label-block², and the signature would be
    persisted as a bucketed table layout in production.

    Self-verifying: plants 10 duplicate vectors (vec_id + offset;
    identical embedding ⇒ identical signature ⇒ shared bucket, cos = 1.0).
    The testdata's maximum real pair cosine is ~0.6, so the exact top-10
    IS the planted pairs and the oracle states them exactly — end-to-end
    coverage of signature determinism, bucket blocking, the prenormed
    cosine fold, and top-k tie-break ordering.

    Degeneracy contract (VERDICT r10 item 5 — no verification skips): a
    corpus holding ANY exact-duplicate base vector across distinct
    vec_ids voids the planted-pair-dominance claim (real cos-1.0 pairs
    tie the planted ones, and the tied top-10 depends on bucket capping
    the oracle cannot re-derive in SQL).  Instead of asking the gate to
    allowlist that state, the query PROBES it (count vs distinct
    serialized vector, one 1-row aggregate — the same aggregate that
    sizes the LSH signature) and, when degenerate, emits the vacuity
    decision itself as rows the oracle states exactly: the 10 lowest
    base vec_ids with NULL pair columns and degenerate=TRUE.  On any
    real corpus (distinct float vectors) the probe is false and the
    planted top-10 ships with degenerate=FALSE — the scan_row_lineage
    pattern of making a data-dependent decision a driver-verifiable
    output column.  Serialized-form comparison is exact-duplicate
    detection in both engines (float→shortest-string is injective);
    scaled-collinear distinct vectors remain out of scope, as before.
    """
    from .dedup import _PLANT_OFFSET, _drop_hot

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(F.col("embedding").isNotNull())
    # one bounded 1-row probe: corpus size (signature width) + degeneracy
    probe = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col("embedding").cast("string")).alias("nd"),
    ).first()
    if probe["n"] > probe["nd"]:
        return (
            e.orderBy("vec_id")
            .limit(10)
            .select(
                F.col("vec_id").alias("vec_a"),
                F.lit(None).cast("long").alias("vec_b"),
                F.lit(None).cast("double").alias("cos_sim"),
                F.lit(True).alias("degenerate"),
            )
        )
    bits = lsh_bits(probe["n"])
    low = e.orderBy("vec_id").limit(10)
    planted = low.select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"), "embedding"
    )
    sig = (
        e.unionByName(planted)
        .select(
            "vec_id",
            "embedding",
            F.expr(rh_signature("embedding", bits, _DIM)).alias("bucket"),
            F.expr(f"SQRT({norm2('embedding')})").alias("nrm"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    capped = _drop_hot(sig, ["bucket"])
    # shuffle_hash: the build side is the FULL vector table — never
    # broadcast-safe at scale (same refusal as dedup's inverted-index joins)
    a, b = capped.alias("a"), capped.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                F.expr(f"{dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)"), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(10)
        .withColumn("degenerate", F.lit(False))
    )


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-20 via random-hyperplane LSH bucketing, signature
    width scaled to corpus size (_expr.lsh_bits: 8 bits at testdata scale,
    up to 24 at 10⁹ vectors).

    Hyperplane h_j has components ±1 derived from xxhash64(j, dim-index) —
    deterministic, no stored model (shared with dedup_embed_lsh via
    _expr.rh_signature).  sign(v·h_j) gives bit j; vectors are compared only
    within the query's probed buckets.  Recall < 1 by design; pytest checks
    bucket containment and overlap with the exact top-k.
    """
    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    bits = lsh_bits(e.count())
    sigd = e.withColumn("bucket", F.expr(rh_signature("embedding", bits, _DIM)))
    # Multiprobe: search the query's bucket plus all Hamming-distance-1
    # neighbor buckets (bits+1 probes of 2^bits) — the standard recall/cost
    # knob: a vector whose signature differs by one marginal hyperplane is
    # still found without widening the scan to the full table.
    q = (
        sigd.join(
            F.broadcast(sigd.agg(F.min("vec_id").alias("qid"))),
            F.col("vec_id") == F.col("qid"),
        )
        .select(
            F.col("embedding").alias("qvec"),
            F.expr(
                "array(bucket, {})".format(
                    ", ".join(f"bucket ^ {1 << j}" for j in range(bits))
                )
            ).alias("probes"),
        )
    )
    return (
        sigd.join(F.broadcast(q), F.expr("array_contains(probes, bucket)"))
        .withColumn("cos", F.expr(cosine("embedding", "qvec")))
        .select("vec_id", "label", "bucket", F.round("cos", 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(20)
    )


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying ANN harness (the declared entry — the raw bucket probe
    is :func:`ann_topk`).  Invariant: the query vector is drawn from the
    table (min vec_id), lands in its own bucket, and cos(q, q) rounds to
    1.0, so the ANN's top-1 must be the query itself — an exact, SQL-statable
    end-to-end check of signature, probing, cosine, and ranking.  The label
    anchor ties the result row to real data.
    """
    top1 = (
        ann_topk(spark, sf_dir)
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(1)
    )
    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    q = F.broadcast(e.agg(F.min("vec_id").alias("query_id")))
    return top1.crossJoin(q).select(
        "query_id",
        (F.col("vec_id") == F.col("query_id")).alias("self_is_top"),
        F.col("cos_sim").alias("top_cos"),
        "label",
    )


def _ivf_assign(vecs: DataFrame, cent: DataFrame, carry: tuple = ()) -> DataFrame:
    """(vec_id[, *carry], cid): each vector's nearest centroid by cosine
    (spherical k-means assignment), computed MAP-ONLY (r14 optimization,
    guide §2.4): the k-row centroid relation is packed into ONE
    array<struct> row (collect_list — never a driver collect) and
    broadcast; the per-vector argmax is an ``array_max`` over the
    transformed array, so assignment shuffles NOTHING (the pre-r14 shape
    fanned N×k rows through a groupBy(vec_id) exchange every Lloyd round).

    ``array_max(transform(...))`` keeps the exact struct-ordering
    semantics of the old ``max(struct(cos, ncid))`` aggregate (NaN ranks
    above any double, NULL fields rank lowest), so ties still break to
    the smallest cid — matching the probe ordering in sim_ivf so the
    assigned cell is always probed.  ``carry`` forwards extra columns
    (e.g. the embedding) so consumers need no join back onto ``vecs``."""
    packed = F.broadcast(
        cent.agg(F.collect_list(F.struct("cid", "cvec")).alias("cents"))
    )
    best_cid = F.expr(
        "-array_max(transform(cents, c -> named_struct("
        f"'cos', {cosine('embedding', 'c.cvec')}, "
        "'ncid', -c.cid))).ncid"
    )
    return vecs.crossJoin(packed).select(
        "vec_id", *carry, best_cid.alias("cid")
    )


_LLOYD_ROUNDS = 2  # Lloyd rounds of every trainer (IVF and PQ)
_IVF_K = 16  # IVF coarse cells


def _lloyd(
    points: DataFrame, cent: DataFrame, assign, keys: tuple, vec: str, dim: int
) -> DataFrame:
    """_LLOYD_ROUNDS Lloyd rounds from the seed centroids ``cent`` (keys...,
    cvec): ``assign(points, cent, carry=(vec,))`` labels each point MAP-ONLY
    with its nearest centroid, carrying the ``dim``-long vector column
    ``vec`` (no join back onto ``points``), and the mean update is ONE
    map-side-combined groupBy(keys) with ``dim`` element-wise avg
    aggregates — one Exchange of partial-agg rows per round.  The pre-r14
    shape paid per round an assignment shuffle, a join, a posexplode, two
    more exchanges and an eager checkpoint job.

    The rounds are ONE lazy plan (they nest through broadcast subqueries,
    linear depth) with a single eager localCheckpoint at the end — every
    caller reads the centroids more than once — and NOT persisted: a
    persisted plan's shuffles bypass AQE partition coalescing on a vanilla
    session (canChangeCachedPlanOutputPartitioning defaults false), which
    ran the tiny per-round aggregates as 200-task stages in the driver's
    environment (r3: 4.4 s driver vs 1.2 s tuned-session for sim_ivf)."""
    mean_arr = "array({})".format(
        ", ".join(
            f"avg(CAST(element_at({vec}, {d + 1}) AS DOUBLE))" for d in range(dim)
        )
    )
    for _ in range(_LLOYD_ROUNDS):
        cent = (
            assign(points, cent, carry=(vec,))
            .groupBy(*keys)
            .agg(F.expr(mean_arr).alias("cvec"))
            .coalesce(1)  # one row per centroid
        )
    return cent.localCheckpoint(eager=True)


def ivf_centroids(vecs: DataFrame) -> DataFrame:
    """IVF coarse quantizer: _IVF_K spherical-k-means centroids over
    (vec_id, embedding), trained by :func:`_lloyd` with cosine assignment
    (broadcast packed centroids + HOF argmax, O(N·k) compute / ZERO
    shuffle — see _ivf_assign).  Seeds are the k hash-lowest vec_ids:
    deterministic and scan-cheap (TakeOrderedAndProject), no stored model.
    At 100 TB: train on a sample (centroids need statistical, not total,
    coverage), then one final assignment pass writes the cell id as a
    partition/bucket column — every later query is a cell-pruned scan.
    """
    cent = (
        vecs.orderBy(F.xxhash64("vec_id"))
        .limit(_IVF_K)
        .select(
            F.row_number()
            .over(Window.orderBy(F.xxhash64("vec_id")))
            .alias("cid"),
            F.col("embedding").alias("cvec"),
        )
    )
    return _lloyd(vecs, cent, _ivf_assign, ("cid",), "embedding", _DIM)


def _ivf(e: DataFrame):
    """(centroids, assignment) of the IVF coarse quantizer over ``e``.  The
    assignment carries the embedding, so consumers that need it (the
    candidate set, the residual build) skip a join back onto ``e`` (r14);
    cid-only consumers prune the column."""
    cent = ivf_centroids(e)
    assign = _ivf_assign(e, cent, carry=("embedding",)).localCheckpoint(eager=True)
    return cent, assign


def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search — the other classic scale path next to LSH
    (sim_ann_lsh): partition the corpus into k coarse cells, probe only the
    nprobe=2 cells nearest the query, brute-force cosine inside them.

    Self-verifying (same pattern as sim_ann_lsh): the query is the min
    vec_id vector; its assigned cell is by construction its argmax-cosine
    centroid, which is also the first probe (tie-breaks aligned), so the
    query must find ITSELF at cos 1.0 — an exact end-to-end check of
    training, assignment, probing, and ranking.  `probed_subset` asserts
    the probe actually pruned the corpus (ANN, not a rebranded full scan).
    """
    # assign/cand are eagerly localCheckpointed, not persisted: lineage
    # truncates the same way, downstream shuffles keep AQE coalescing on a
    # vanilla session, and the checkpoint blocks are released by the
    # ContextCleaner when the DataFrames go out of scope — which also
    # retires the old cross-invocation _IVF_CACHES bookkeeping (ADVICE r3)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(F.col("embedding").isNotNull())
    # single-split testdata would run the CPU-heavy HOF argmax (training +
    # assignment, O(N·k·d) interpreted lambda evals) on ONE core — spread
    # once and materialize; every consumer (2 Lloyd rounds, the final
    # assignment, q, the counts) reads the same blocks (io.parallel
    # policy: skip when the scan is already parallel)
    e = parallel(spark, e).localCheckpoint(eager=True)
    cent, assign = _ivf(e)
    q = F.broadcast(
        e.join(
            F.broadcast(e.agg(F.min("vec_id").alias("qid"))),
            F.col("vec_id") == F.col("qid"),
        ).select("qid", F.col("embedding").alias("qvec"))
    )
    probes = (
        cent.crossJoin(q)
        .select("cid", F.expr(cosine("cvec", "qvec")).alias("qcos"))
        .orderBy(F.col("qcos").desc(), F.col("cid"))
        .limit(2)
        .select("cid")
    )
    # two consumers (top-1 ranking and the pruning count) — materialize once
    cand = assign.join(F.broadcast(probes), "cid").localCheckpoint(eager=True)
    top1 = (
        cand.crossJoin(q)
        .withColumn("cos", F.expr(cosine("embedding", "qvec")))
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(1)
    )
    counts = (
        F.broadcast(e.agg(F.count(F.lit(1)).alias("n_total")))
        .crossJoin(F.broadcast(cand.agg(F.count(F.lit(1)).alias("n_probed"))))
        .crossJoin(
            F.broadcast(assign.agg(F.countDistinct("cid").alias("n_cells")))
        )
    )
    # probed_subset is vacuous when the corpus occupies <= nprobe=2 cells
    # (identical/near-identical vectors collapse into one centroid, and a
    # <= 2-vector corpus cannot spread further) — probing legitimately
    # covers everything there (zero-variance gate, round 5)
    return top1.crossJoin(counts).select(
        F.col("qid").alias("query_id"),
        (F.col("vec_id") == F.col("qid")).alias("self_is_top"),
        F.round("cos", 4).alias("top_cos"),
        (
            (F.col("n_probed") < F.col("n_total"))
            | (F.col("n_total") <= 2)
            | (F.col("n_cells") <= 2)
        ).alias("probed_subset"),
    )


def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the standard
    compression step before large-scale ANN (4 bytes -> 1 byte per dim;
    at 10⁹ × 64-dim vectors that is 256 GB -> 64 GB of index).

    Per vector: scale = 127 / max|x_i|; q_i = round(x_i · scale) ∈ [-127,127].
    Emitted per row: the exact integer checksum of the quantized vector, the
    quantized L1 mass, and the max absolute reconstruction error with its
    theoretical bound 0.5/scale — a self-evident correctness invariant
    (err_ok) on top of the exact cross-engine checksums.  All higher-order
    folds in DOUBLE, left-to-right — bit-identical in both engines; map-only
    plan, no shuffle at any scale.
    """
    e = table(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    e = e.select("vec_id", "embedding", absmax.alias("absmax")).filter(
        F.col("absmax") > 0.0
    )
    scale = F.lit(127.0) / F.col("absmax")
    q = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )
    e = e.select(
        "vec_id",
        "embedding",
        F.col("absmax"),
        q.alias("q"),
    )
    recon_err = F.aggregate(
        F.zip_with(
            "embedding",
            "q",
            lambda x, qi: F.abs(
                x.cast("double") - qi.cast("double") * F.col("absmax") / F.lit(127.0)
            ),
        ),
        F.lit(0.0),
        lambda acc, d: F.greatest(acc, d),
    )
    return e.select(
        "vec_id",
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias(
            "q_l1"
        ),
        F.round(recon_err, 6).alias("max_err"),
        (recon_err <= F.lit(0.5) * F.col("absmax") / F.lit(127.0) + F.lit(1e-12))
        .alias("err_ok"),
    )


_PQ_M = 4                 # subspaces
_PQ_K = 16                # codes per subspace codebook
_PQ_SUB = _DIM // _PQ_M   # dims per subvector
_PQ_DEC = "decimal(25,15)"  # exact-sum carrier for the ADC equality check


def _pq_subvecs(e: DataFrame) -> DataFrame:
    """(vec_id, sub, sv): each embedding split into _PQ_M contiguous
    subvectors — the PQ decomposition, one exploded row per subspace."""
    return e.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda s: F.struct(
                    s.alias("sub"),
                    F.slice("embedding", s * _PQ_SUB + 1, _PQ_SUB).alias("sv"),
                ),
            )
        ).alias("t"),
    ).select("vec_id", F.col("t.sub").alias("sub"), F.col("t.sv").alias("sv"))


def _pq_assign(subvecs: DataFrame, cent: DataFrame, carry: tuple = ()) -> DataFrame:
    """(vec_id, sub[, *carry], cid): nearest codebook entry per subspace,
    computed MAP-ONLY (same r14 rewrite as _ivf_assign): the m*k-row
    codebook is packed into ONE array<struct> row and broadcast; each
    subvector row filters its own subspace's k entries out of the array
    and takes ``array_min`` over the transformed (d2, cid) structs — no
    k-way fan-out, no groupBy(vec_id, sub) exchange.  ``array_min`` keeps
    the exact ordering semantics of the old ``min(struct(d2, cid))``
    aggregate, so ties still break to the smallest cid and identical
    subvectors ALWAYS encode to identical codes — the determinism the
    planted-twin invariant rides on."""
    packed = F.broadcast(
        cent.agg(F.collect_list(F.struct("sub", "cid", "cvec")).alias("cents"))
    )
    best_cid = F.expr(
        "array_min(transform(filter(cents, c -> c.sub = sub), "
        f"c -> named_struct('d2', {l2('sv', 'c.cvec')}, 'cid', c.cid))).cid"
    )
    return subvecs.crossJoin(packed).select(
        "vec_id", "sub", *carry, best_cid.alias("cid")
    )


def _with_planted_twin(base: DataFrame) -> DataFrame:
    """Append an identical twin of the min-vec_id vector (vec_id +
    _PLANT_OFFSET, same embedding) — the planted-duplicate harness shared
    by embed_pq and sim_ivfpq (same convention as sim_pairwise_lsh)."""
    from .dedup import _PLANT_OFFSET

    twin = base.orderBy("vec_id").limit(1).select(
        (F.col("vec_id") + F.lit(_PLANT_OFFSET)).alias("vec_id"), "embedding"
    )
    return base.unionByName(twin)


def clear_ann_cache() -> None:
    """Drop all memoized twin/IVF/PQ trainings (contract: io._MEMO)."""
    clear_memo("twin_e", "twin_ivf", "twin_pq")


def _twin_e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twin-augmented embeddings corpus, eagerly localCheckpointed and
    memoized per (application, sf_dir) — the shared training input of
    embed_pq / sim_ivfpq / embed_pq_residual (same memo pattern as
    dedup._dup_stars: a production pipeline materializes the corpus once
    and feeds every index-build stage from the stored blocks)."""

    def build():
        # usable vectors only: a NaN/Inf-poisoned embedding (NULL post
        # io.table guard) is never indexed or twinned (ieee corpus, r7)
        base = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(F.col("embedding").isNotNull())
        e = _with_planted_twin(base)
        # spread the single-split scan before checkpointing: every PQ/IVF
        # training pass over the twin corpus is HOF-compute-heavy and
        # would otherwise run on the union's 1+1 partitions (r14)
        return parallel(spark, e).localCheckpoint(eager=True)

    return memo(spark, sf_dir, "twin_e", build)


def _twin_ivf(spark: SparkSession, sf_dir: str):
    """(centroids, assignment) of the IVF coarse quantizer over the twin
    corpus, memoized per (application, sf_dir).  sim_ivfpq and
    embed_pq_residual train the IDENTICAL quantizer (same input relation,
    same deterministic seeds, same Lloyd rounds) — at 100 TB this is the
    pay-once index build both queries read, so within a session the second
    consumer reuses the checkpointed carriers instead of re-training."""
    return memo(spark, sf_dir, "twin_ivf", lambda: _ivf(_twin_e(spark, sf_dir)))


def _twin_pq(spark: SparkSession, sf_dir: str):
    """(subvecs, codebook, codes) of _pq_train over the twin corpus,
    memoized per (application, sf_dir) — shared by embed_pq (codec
    invariants) and sim_ivfpq (ADC search over the same codebooks)."""
    return memo(
        spark, sf_dir, "twin_pq", lambda: _pq_train(spark, _twin_e(spark, sf_dir))
    )


def _pq_train(spark: SparkSession, e: DataFrame):
    """Train the _PQ_M×_PQ_K product-quantization codebooks over a
    (vec_id, embedding) relation with :func:`_lloyd` (l2 assignment, see
    _pq_assign); returns (subvecs, codebook, codes).  All m codebooks train
    in the SAME DataFrame jobs (subspace is just a grouping column).
    Shared by embed_pq (codec invariants) and sim_ivfpq (IVF-PQ search).

    The subvector relation is eagerly localCheckpointed, not persisted: it
    is read by every Lloyd round, the codes assignment and the callers'
    LUTs, so its lineage must truncate once (dedup_clusters lesson), and a
    persisted plan's shuffles lose AQE coalescing (see _lloyd).
    """
    par = max(2, min(spark.sparkContext.defaultParallelism, 8))
    subvecs = _pq_subvecs(e).repartition(par).localCheckpoint(eager=True)
    # deterministic seeds: the k hash-lowest vec_ids' subvectors, cid by
    # the same hash order (scan-cheap TakeOrdered, no stored model)
    seed_ids = (
        e.orderBy(F.xxhash64("vec_id"))
        .limit(_PQ_K)
        .select(
            "vec_id",
            F.row_number().over(Window.orderBy(F.xxhash64("vec_id"))).alias("cid"),
        )
    )
    cent = subvecs.join(F.broadcast(seed_ids), "vec_id").select(
        "sub", "cid", F.col("sv").alias("cvec")
    )
    cent = _lloyd(subvecs, cent, _pq_assign, ("sub", "cid"), "sv", _PQ_SUB)
    codes = _pq_assign(subvecs, cent).localCheckpoint(eager=True)
    return subvecs, cent, codes


def embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — THE 100 TB ANN memory layout (IVF-PQ): each
    64-dim float vector is encoded as _PQ_M=4 one-byte codes (64x smaller
    than fp32), one per contiguous subspace, against per-subspace k=16
    codebooks trained with 2 Lloyd rounds.  All m codebooks train in the
    SAME DataFrame jobs (subspace is just a grouping column), so the cost
    is one k-means, not m.

    Query scoring is ADC (asymmetric distance): the query builds an m x k
    lookup table of subvector->centroid distances once, and every
    candidate's distance is a 4-term LUT sum over its codes — no float
    vectors touched at scan time.  At scale the codes column lives next to
    the IVF cell id (sim_ivf) as a bucketed layout; the LUT is a broadcast
    of m*k doubles.

    Self-verifying output (1 row, constants + booleans so the oracle is
    exact SQL): a planted identical twin of the min-vec_id query (vec_id +
    _PLANT_OFFSET, same embedding — planted HERE, same harness as
    sim_pairwise_lsh) must encode to the SAME codes, hence the ADC
    distance to the twin EQUALS the query's own quantization distance —
    compared in decimal so the 4-term sums are associative-exact.
    codebook_bounded pins |used codes| <= m*k.
    """
    from .dedup import _PLANT_OFFSET

    base = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(F.col("embedding").isNotNull())
    e = _twin_e(spark, sf_dir)
    subvecs, cent, codes = _twin_pq(spark, sf_dir)
    qid = e.agg(F.min("vec_id").alias("qid"))
    # ADC lookup table: the query's subvectors against the whole codebook
    lut = (
        subvecs.join(F.broadcast(qid), F.col("vec_id") == F.col("qid"))
        .join(F.broadcast(cent), "sub")
        .select(
            "sub",
            "cid",
            F.expr(f"CAST({l2('sv', 'cvec')} AS {_PQ_DEC})").alias("d2q"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("d2q").alias("adc"))
    )
    self_adc = adc.join(
        F.broadcast(qid), F.col("vec_id") == F.col("qid")
    ).select(F.col("adc").alias("self_adc"))
    twin_adc = adc.join(
        F.broadcast(qid), F.col("vec_id") == F.col("qid") + F.lit(_PLANT_OFFSET)
    ).select(F.col("adc").alias("twin_adc"))
    used = codes.select("sub", "cid").distinct().agg(
        F.count(F.lit(1)).alias("n_used")
    )
    # count the BASE corpus (the oracle states count(*) over embeddings);
    # the planted twin is harness-only
    n = base.agg(F.count(F.lit(1)).alias("n_vectors"))
    res = (
        n.crossJoin(F.broadcast(self_adc))
        .crossJoin(F.broadcast(twin_adc))
        .crossJoin(F.broadcast(used))
    )
    return res.select(
        "n_vectors",
        F.lit(_PQ_M).alias("m"),
        F.lit(_PQ_K).alias("k"),
        F.lit(4 * _DIM // _PQ_M).alias("compression_x"),
        (F.col("twin_adc") == F.col("self_adc")).alias("planted_adc_equals_self"),
        (F.col("n_used") <= F.lit(_PQ_M * _PQ_K)).alias("codebook_bounded"),
    )


def embed_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual product quantization — the refinement production IVF-PQ
    actually ships (FAISS's IndexIVFPQ default): PQ encodes the RESIDUAL
    v − centroid(cell(v)) instead of the raw vector, so the codebooks
    spend their 16 codes on the within-cell spread rather than re-learning
    cell positions — tighter quantization at identical storage.

    Composition: the IVF coarse quantizer (ivf_centroids) assigns cells,
    the residual is a columnar zip_with subtraction, and _pq_train runs
    UNCHANGED on the residual relation (the codec never knows).  At scale
    the layout is (cell_id, codes): queries build one LUT per probed cell
    from the query's per-cell residual.

    Self-verifying (embed_pq's harness, cell-aware): the planted identical
    twin must land in the query's cell (identical embedding ⇒ identical
    argmax centroid with aligned ties), hence have the identical residual
    and codes; the query's ADC against its own-cell residual LUT is the
    per-subspace argmin, so the query is top-1 WITHIN ITS CELL under
    (adc asc, vec_id asc) and the twin ties it exactly (decimal-carried).
    """
    from .dedup import _PLANT_OFFSET

    base = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(F.col("embedding").isNotNull())
    e = _twin_e(spark, sf_dir)
    cent, assign = _twin_ivf(spark, sf_dir)
    # the memoized assignment already carries the embedding (r14): the
    # residual build is one broadcast join on cid, no shuffle join onto e
    res = (
        assign.join(F.broadcast(cent), "cid")
        .select(
            "vec_id",
            "cid",
            F.zip_with(
                "embedding",
                "cvec",
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    subvecs, pq_cent, codes = _pq_train(spark, res)
    qid_b = F.broadcast(e.agg(F.min("vec_id").alias("qid")))
    q_cell = F.broadcast(
        assign.join(qid_b, F.col("vec_id") == F.col("qid")).select(
            F.col("cid").alias("qcid")
        )
    )
    twin_cell = assign.join(
        qid_b, F.col("vec_id") == F.col("qid") + F.lit(_PLANT_OFFSET)
    ).select(F.col("cid").alias("tcid"))
    # codes equality: every (sub, code) of the twin matches the query's
    qcodes = codes.join(
        F.broadcast(qid_b), F.col("vec_id") == F.col("qid")
    ).select("sub", F.col("cid").alias("qcode"))
    tcodes = codes.join(
        F.broadcast(qid_b),
        F.col("vec_id") == F.col("qid") + F.lit(_PLANT_OFFSET),
    ).select("sub", F.col("cid").alias("tcode"))
    codes_eq = (
        qcodes.join(tcodes, "sub")
        .agg(
            F.sum(
                F.when(F.col("qcode") == F.col("tcode"), 1).otherwise(0)
            ).alias("n_eq")
        )
    )
    # own-cell ADC: LUT from the query's residual subvectors
    lut = (
        subvecs.join(F.broadcast(qid_b), F.col("vec_id") == F.col("qid"))
        .join(F.broadcast(pq_cent), "sub")
        .select(
            "sub",
            F.col("cid").alias("code"),
            F.expr(f"CAST({l2('sv', 'cvec')} AS {_PQ_DEC})").alias("d2q"),
        )
    )
    cell_cand = assign.join(F.broadcast(q_cell), F.col("cid") == F.col("qcid"))
    adc = (
        cell_cand.select("vec_id")
        .join(codes, "vec_id")
        .withColumnRenamed("cid", "code")
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy("vec_id")
        .agg(F.sum("d2q").alias("adc"))
        .localCheckpoint(eager=True)
    )
    top1 = adc.orderBy(F.col("adc").asc(), F.col("vec_id").asc()).limit(1)
    self_adc = adc.join(
        F.broadcast(qid_b), F.col("vec_id") == F.col("qid")
    ).select(F.col("adc").alias("self_adc"))
    twin_adc = adc.join(
        F.broadcast(qid_b),
        F.col("vec_id") == F.col("qid") + F.lit(_PLANT_OFFSET),
    ).select(F.col("adc").alias("twin_adc"))
    n = base.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        top1.crossJoin(qid_b)
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(q_cell))
        .crossJoin(F.broadcast(twin_cell))
        .crossJoin(F.broadcast(codes_eq))
        .crossJoin(F.broadcast(self_adc))
        .crossJoin(F.broadcast(twin_adc))
        .select(
            F.col("qid").alias("query_id"),
            "n_vectors",
            (F.col("tcid") == F.col("qcid")).alias("twin_same_cell"),
            (F.col("n_eq") == F.lit(_PQ_M)).alias("twin_codes_match"),
            (F.col("vec_id") == F.col("qid")).alias("self_is_top_in_cell"),
            (F.col("twin_adc") == F.col("self_adc")).alias(
                "twin_ties_self_adc"
            ),
        )
    )


_MAT_Q = 8     # embed_matryoshka_recall: evaluated queries (md5-lowest ids)
_MAT_K = 10    # neighbors compared
_MAT_DIM = 16  # truncated prefix dimensions


def embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation: for each of 8 deterministic
    query vectors, compare the exact top-10 cosine neighbors under the
    FULL 64-dim embedding against the top-10 under the first-16-dim
    PREFIX, and report recall@10 — the measurement that decides whether
    a matryoshka-style truncation can serve retrieval at 4× less memory.
    Queries are the md5-lowest vec_ids (the repo's portable draw — no
    rand(), reproducible on any engine/retry).

    Exactness: cosines fold left-to-right in double (``_expr.cosine`` /
    ``sql_cosine`` — bit-identical across engines), ranking ties break on
    vec_id, and the overlap count is an integer with one final divide.

    Scale: the corpus crossJoins only the BROADCAST 8-query relation —
    O(Q·N) work, one shuffle on qid for the two rank windows (each
    window partition is one query's candidate list).  This is the eval
    harness, not the serving path: at 100 TB it runs over a sampled
    query set, while serving uses the pruned structures (sim_ivfpq).
    """
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = F.broadcast(
        e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_MAT_Q)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    scored = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.expr(cosine("embedding", "qvec")).alias("cos_full"),
            F.expr(
                cosine(
                    f"slice(embedding, 1, {_MAT_DIM})", f"slice(qvec, 1, {_MAT_DIM})"
                )
            ).alias("cos_pre"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("cos_full"), "vec_id")
    wp = Window.partitionBy("qid").orderBy(F.desc("cos_pre"), "vec_id")
    ranked = scored.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rp", F.row_number().over(wp)
    )
    out = ranked.groupBy("qid").agg(
        F.sum(
            F.when(
                (F.col("rf") <= _MAT_K) & (F.col("rp") <= _MAT_K), 1
            ).otherwise(0)
        ).alias("n_overlap")
    )
    from .._util import half_up

    return out.select(
        F.col("qid").alias("query_id"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        half_up(F.col("n_overlap") / F.lit(float(_MAT_K))).alias(
            "recall_at_k"
        ),
    )


def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding column — the dimensionality-
    reduction step before clustering/visualization of a vector corpus.

    Phase 1 (distributed): each partition computes a PARTIAL second-moment
    state (count, Σx, ΣxxT) with one numpy matmul per Arrow batch inside
    mapInPandas — the gramian never materializes per-row, and the shuffle
    carries one (1 + d + d²)-double state row per partition (65 + 4096
    doubles here), independent of input size.  This is the classic
    covariance-by-outer-product-partials pattern: at 10⁹ × 64-dim vectors
    the reduce moves a few thousand rows of fixed width, nothing else.
    Phase 2 (driver): merge partials (exact + over doubles is associative
    enough at d=64; the eigensolve is O(d³) on 64×64 — driver work by
    design), eigendecompose the covariance, keep the top-4 components.

    The result reports structural invariants the oracle can assert without
    re-deriving LAPACK's floats: component orthonormality, non-increasing
    eigenvalues, and projected variance bounded by total variance.
    """
    import numpy as np
    import pandas as pd

    # moment basis = the NON-NULL vectors (a NULL embedding has no
    # coordinates to contribute; np.stack over a ragged batch crashed on
    # the nulls degenerate corpus, round 6) — the oracle carries the
    # same WHERE
    e = (
        table(spark, sf_dir, "embeddings")
        .select("embedding")
        .filter(F.col("embedding").isNotNull())
    )
    d = 64

    schema = (
        "n_vecs bigint, dim int, k int, components_orthonormal boolean, "
        "eigs_nonincreasing boolean, proj_var_le_total boolean"
    )

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue  # empty Arrow batch from an empty split
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [float(len(m))],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    parts = e.mapInPandas(
        partials, "n double, s array<double>, g array<double>"
    ).collect()
    if not parts:
        # empty corpus: no moments exist — dim is unobserved and the
        # structural claims are vacuous TRUE, mirroring the oracle's
        # aggregate over zero rows (degenerate-corpus gate, round 5)
        return spark.createDataFrame([(0, None, 4, True, True, True)], schema)
    n = sum(p["n"] for p in parts)
    s = np.sum([p["s"] for p in parts], axis=0)
    g = np.sum([p["g"] for p in parts], axis=0).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)  # ascending
    eigval, eigvec = eigval[::-1], eigvec[:, ::-1]
    k = 4
    vk = eigvec[:, :k]
    orthonormal = bool(np.abs(vk.T @ vk - np.eye(k)).max() < 1e-8)
    nonincreasing = bool(np.all(np.diff(eigval) <= 1e-12))
    proj_var = float(eigval[:k].sum())
    total_var = float(np.trace(cov))
    return spark.createDataFrame(
        [(int(n), d, k, orthonormal, nonincreasing, proj_var <= total_var + 1e-9)],
        schema,
    )


def agg_vector_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (element-wise mean) in long format —
    the building block of k-means/IVF training and class prototypes.

    posexplode + groupBy(label, pos) is one shuffle of N x d rows with
    map-side partial averaging; when d is large or the element rows
    dominate the shuffle, the embed_pca pattern (per-partition numpy
    partials over mapInPandas) is the drop-in replacement — same result,
    fixed-width shuffle.  round(…,4) per the _util AVG policy.
    """
    e = table(spark, sf_dir, "embeddings").select("label", "embedding")
    # decimal-carried sum (order-independent) / count, then EXPLICIT
    # half-up to 4 decimals: round() half-ties flip between engines
    # (Spark half-up vs DuckDB half-even — caught by the sf0.001
    # cross-scale sweep where a small-group mean landed exactly on
    # -0.00005), so the rounding formula is stated identically both sides
    from .._util import DEC, half_up

    mean = F.sum(F.col("x").cast("double").cast(DEC)).cast(
        "double"
    ) / F.count(F.lit(1))
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "x"))
        .groupBy("label", F.col("pos0").cast("int").alias("pos"))
        .agg(
            half_up(mean).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — the full billion-scale ANN composition: the IVF
    coarse quantizer (sim_ivf's cells) prunes the corpus to nprobe=2
    cells, then candidates are scored by ADC over their PQ codes
    (embed_pq's codebooks) — float vectors are touched only to build the
    query's m×k lookup table; every candidate costs a 4-term LUT sum.
    At 100 TB the layout is (cell_id, codes) bucketed by cell: the probe
    is a partition-pruned scan of byte codes, 64× smaller than the fp32
    corpus, and the LUT is a broadcast of m·k doubles.

    Self-verifying (the sim_ivf + embed_pq harnesses composed): a planted
    identical twin of the min-vec_id query shares the query's cell
    (identical embedding ⇒ identical argmax centroid, ties aligned) and
    its codes, so it MUST survive the IVF pruning and tie the query's ADC
    (compared in decimal — associative-exact).  ADC(query) is the global
    minimum by construction (its codes are the per-subspace argmins), so
    the query is top-1 under (adc asc, vec_id asc).  `probed_subset`
    proves the cell probe actually pruned.
    """
    from .dedup import _PLANT_OFFSET

    base = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(F.col("embedding").isNotNull())
    e = _twin_e(spark, sf_dir)
    # coarse quantizer + cell assignment (sim_ivf's shapes, shared with
    # embed_pq_residual via the per-application memo)
    cent, assign = _twin_ivf(spark, sf_dir)
    # PQ codebooks + codes (embed_pq's shapes, shared via the memo)
    subvecs, pq_cent, codes = _twin_pq(spark, sf_dir)
    qid_b = F.broadcast(e.agg(F.min("vec_id").alias("qid")))
    q = F.broadcast(
        e.join(qid_b, F.col("vec_id") == F.col("qid")).select(
            "qid", F.col("embedding").alias("qvec")
        )
    )
    probes = (
        cent.crossJoin(q)
        .select("cid", F.expr(cosine("cvec", "qvec")).alias("qcos"))
        .orderBy(F.col("qcos").desc(), F.col("cid"))
        .limit(2)
        .select("cid")
    )
    # LUT needs only the query's SUBVECTORS — join the scalar qid, not the
    # q row that carries the full 64-float embedding
    lut = (
        subvecs.join(F.broadcast(qid_b), F.col("vec_id") == F.col("qid"))
        .join(F.broadcast(pq_cent), "sub")
        .select(
            "sub",
            F.col("cid").alias("code"),
            F.expr(f"CAST({l2('sv', 'cvec')} AS {_PQ_DEC})").alias("d2q"),
        )
    )
    cand = assign.join(F.broadcast(probes), "cid").select("vec_id")
    adc = (
        cand.join(codes, "vec_id")
        .withColumnRenamed("cid", "code")
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy("vec_id")
        .agg(F.sum("d2q").alias("adc"))
        .localCheckpoint(eager=True)
    )
    top1 = adc.orderBy(F.col("adc").asc(), F.col("vec_id").asc()).limit(1)
    self_adc = adc.join(qid_b, F.col("vec_id") == F.col("qid")).select(
        F.col("adc").alias("self_adc")
    )
    twin_row = adc.join(
        qid_b, F.col("vec_id") == F.col("qid") + F.lit(_PLANT_OFFSET)
    ).select(F.col("adc").alias("twin_adc"))
    # prune check counts BOTH sides over e (twin included) — comparing
    # twin-inclusive n_probed against twin-exclusive n_vectors would flip
    # probed_subset false when the probe pruned exactly one vector.
    # n_total = n_vectors + 1 BY CONSTRUCTION (exactly one planted twin),
    # so no third count job is spent on it.
    counts = (
        F.broadcast(base.agg(F.count(F.lit(1)).alias("n_vectors")))
        .withColumn("n_total", F.col("n_vectors") + 1)
        .crossJoin(F.broadcast(adc.agg(F.count(F.lit(1)).alias("n_probed"))))
        .crossJoin(
            F.broadcast(assign.agg(F.countDistinct("cid").alias("n_cells")))
        )
    )
    return (
        top1.crossJoin(qid_b)
        .crossJoin(F.broadcast(self_adc))
        .crossJoin(F.broadcast(twin_row))
        .crossJoin(counts)
        .select(
            F.col("qid").alias("query_id"),
            "n_vectors",
            (F.col("vec_id") == F.col("qid")).alias("self_is_top"),
            (F.col("twin_adc") == F.col("self_adc")).alias(
                "twin_survives_with_equal_adc"
            ),
            # vacuous when the corpus occupies <= nprobe=2 cells — an
            # identical-vector corpus collapses into one centroid, and a
            # <= 2-vector corpus cannot spread further (round-5 gates)
            (
                (F.col("n_probed") < F.col("n_total"))
                | (F.col("n_total") <= 2)
                | (F.col("n_cells") <= 2)
            ).alias("probed_subset"),
        )
    )


def sim_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN index layout — the signature table WRITTEN as a
    bucket-partitioned parquet warehouse and probed through the layout:
    build once (rh_signature per vector), write partitionBy(bucket),
    then serve a query by reading ONLY the probed bucket directories
    (query bucket + Hamming-1 neighbors).  This is the index-as-table
    model every production vector store compiles to: probe literals
    reach the scan as PartitionFilters, so (2^bits − bits − 1)/2^bits of
    the index is never opened.

    The single query point is fetched client-side (one row) — that IS
    the serving model; everything corpus-sized stays distributed.  The
    result row is the claims contract (sim_ivfpq's style, since
    xxhash64 signatures have no DuckDB twin): self-retrieval at cos 1.0,
    the probe scan carrying partition filters, and the probed subset
    being strictly smaller than the index.
    """
    import os

    from .._util import scratch_dir
    from ..plans.introspect import plan_string

    schema = (
        "query_id bigint, self_is_top boolean, top_cos double, "
        "partition_pruned boolean, probed_subset boolean"
    )
    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    n_total = e.count()
    if n_total == 0:
        # no corpus -> no query vector -> no result row; the oracle carries
        # the same EXISTS guard (degenerate-corpus gate, round 5)
        return spark.createDataFrame([], schema)
    bits = lsh_bits(n_total)
    # r14 (guide §6): spread the single-split scan so the 2^bits-fold
    # signature HOF computes in parallel, then hash-distribute on the
    # partition column so each bucket is written by exactly ONE task —
    # one file per bucket directory (the production distribution mode
    # for partitioned writes), instead of one serial task writing all
    # 2^bits directories
    sig = parallel(spark, e).withColumn(
        "bucket", F.expr(rh_signature("embedding", bits, _DIM))
    ).repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "bucket")
    out = os.path.join(scratch_dir("dfts_lshidx_"), "lsh_index")
    sig.write.mode("overwrite").partitionBy("bucket").parquet(out)
    idx = spark.read.parquet(out)

    qid = e.agg(F.min("vec_id")).collect()[0][0]
    qrow = idx.filter(F.col("vec_id") == qid).collect()[0]
    qb = qrow["bucket"]
    probes = [qb] + [qb ^ (1 << j) for j in range(bits)]
    probe_df = idx.filter(F.col("bucket").isin(probes))
    pruned = "PartitionFilters: [" in plan_string(probe_df) and (
        "bucket" in plan_string(probe_df)
    )
    qvec = "array({})".format(", ".join(f"{x!r}D" for x in qrow["embedding"]))
    top1 = (
        probe_df.withColumn("cos", F.round(F.expr(cosine("embedding", qvec)), 4))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(1)
        .collect()[0]
    )
    n_probed = probe_df.count()
    # pruning is only guaranteed once vectors occupy more buckets than the
    # probe set (bits + 1 of 2^bits); below that the claim is vacuous TRUE
    return spark.createDataFrame(
        [
            (
                qid,
                top1["vec_id"] == qid,
                float(top1["cos"]),
                bool(pruned),
                n_probed < n_total or n_total <= bits + 1,
            )
        ],
        schema,
    )


_RERANK_C = 50  # stage-1 candidate budget
_RERANK_K = 10  # final answer size


def sim_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape: a CHEAP
    approximate scorer over everything produces a small candidate set,
    and the exact metric reranks only those.  Stage 1 scores with the
    int8-quantized dot product (embed_quantize's per-vector symmetric
    quantization; integer-EXACT, so the candidate cut is deterministic),
    taking the top 50 by (score, vec_id); stage 2 computes the true
    float cosine on those 50 rows only and returns the top 10.

    The quantized dot ignores the per-vector scale mismatch — precisely
    the systematic error that makes stage 1 cheap and stage 2 necessary;
    at 100 TB stage 1 reads the 1-byte/dim index (64× less IO) and
    stage 2 fetches 50 full vectors.  Plan: map-only scoring +
    TakeOrderedAndProject for both cuts — no shuffle beyond the top-k
    reductions.
    """
    e = table(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    quant = e.select(
        "vec_id", "label", "embedding", absmax.alias("absmax")
    ).filter(F.col("absmax") > 0.0)
    scale = F.lit(127.0) / F.col("absmax")
    quant = quant.withColumn(
        "q",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
        ),
    )
    q = F.broadcast(
        quant.join(
            quant.agg(F.min("vec_id").alias("qid")),
            F.col("vec_id") == F.col("qid"),
        ).select(
            F.col("embedding").alias("qvec"), F.col("q").alias("qq")
        )
    )
    s1 = quant.crossJoin(q).withColumn(
        "stage1_score",
        F.aggregate(
            F.zip_with("q", "qq", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    cand = s1.orderBy(F.desc("stage1_score"), F.asc("vec_id")).limit(
        _RERANK_C
    )
    return (
        cand.withColumn(
            "cos_sim", F.round(F.expr(cosine("embedding", "qvec")), 4)
        )
        .select("vec_id", "label", "cos_sim", "stage1_score")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(_RERANK_K)
    )


QUERIES = {
    "sim_index_persist": sim_index_persist,
    "sim_rerank_two_stage": sim_rerank_two_stage,
    "sim_ivfpq": sim_ivfpq,
    "agg_vector_centroid": agg_vector_centroid,
    "embed_pca": embed_pca,
    "embed_pq": embed_pq,
    "embed_pq_residual": embed_pq_residual,
    "embed_matryoshka_recall": embed_matryoshka_recall,
    "embed_quantize": embed_quantize,
    "sim_topk": sim_topk,
    "sim_pairwise_topk": sim_pairwise_topk,
    "sim_pairwise_lsh": sim_pairwise_lsh,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ivf": sim_ivf,
}

ORACLE = {
    # claims contract (sim_ivfpq's style): xxhash64 signatures have no
    # DuckDB twin, so the oracle states the invariants the harness must
    # produce from real data
    "sim_index_persist": f"""
        SELECT CAST(min(vec_id) AS BIGINT) AS query_id,
               true AS self_is_top,
               CAST(1.0 AS DOUBLE) AS top_cos,
               true AS partition_pruned,
               true AS probed_subset
        FROM {SQL_FINITE_EMBEDDINGS} embeddings
        WHERE embedding IS NOT NULL
        HAVING count(*) > 0
    """,
    "sim_rerank_two_stage": f"""
        WITH base AS (
            SELECT vec_id, label, embedding,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS absmax
            FROM {SQL_FINITE_EMBEDDINGS} embeddings
        ),
        qd AS (
            SELECT vec_id, label, embedding,
                   list_transform(embedding,
                       x -> CAST(ROUND(CAST(x AS DOUBLE) * (127.0 / absmax),
                                       0) AS BIGINT)) AS q
            FROM base WHERE absmax > 0.0
        ),
        qv AS (
            SELECT embedding AS qvec, q AS qq FROM qd
            WHERE vec_id = (SELECT min(vec_id) FROM qd)
        ),
        s1 AS (
            SELECT vec_id, label, embedding, qvec,
                   CAST(list_sum(list_transform(list_zip(q, qq),
                       p -> p[1] * p[2])) AS BIGINT) AS stage1_score
            FROM qd, qv
        ),
        cand AS (
            SELECT * FROM s1
            ORDER BY stage1_score DESC, vec_id
            LIMIT {_RERANK_C}
        )
        SELECT vec_id, label,
               ROUND({sql_cosine('embedding', 'qvec')}, 4) AS cos_sim,
               stage1_score
        FROM cand
        ORDER BY cos_sim DESC, vec_id
        LIMIT {_RERANK_K}
    """,
    "sim_ivfpq": f"""
        SELECT CAST(min(vec_id) AS BIGINT) AS query_id,
               CAST(count(*) AS BIGINT) AS n_vectors,
               true AS self_is_top,
               true AS twin_survives_with_equal_adc,
               true AS probed_subset
        FROM {SQL_FINITE_EMBEDDINGS} embeddings
        WHERE embedding IS NOT NULL
        HAVING count(*) > 0
    """,
    "agg_vector_centroid": f"""
        SELECT label, CAST(g - 1 AS INTEGER) AS pos,
               CAST(floor(
                   {sql_dsum("CAST(embedding[g] AS DOUBLE)")}
                   / count(*) * 10000 + 0.5
               ) AS DOUBLE) / 10000 AS centroid_val,
               count(*) AS n_vecs
        FROM {SQL_FINITE_EMBEDDINGS} embeddings, (SELECT unnest(range(1, 65)) AS g)
        WHERE embedding IS NOT NULL
        GROUP BY label, pos
    """,
    "embed_pq": f"""
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               4 AS m,
               16 AS k,
               64 AS compression_x,
               true AS planted_adc_equals_self,
               true AS codebook_bounded
        FROM {SQL_FINITE_EMBEDDINGS} embeddings
        WHERE embedding IS NOT NULL
        HAVING count(*) > 0
    """,
    "embed_matryoshka_recall": f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding AS qvec FROM {SQL_FINITE_EMBEDDINGS} embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_MAT_Q}
        ),
        s AS (
            SELECT q.qid, e.vec_id,
                   {sql_cosine('e.embedding', 'q.qvec')} AS cos_full,
                   {sql_cosine(f'e.embedding[1:{_MAT_DIM}]',
                               f'q.qvec[1:{_MAT_DIM}]')} AS cos_pre
            FROM {SQL_FINITE_EMBEDDINGS} e, q WHERE e.vec_id <> q.qid
        ),
        r AS (
            SELECT qid, vec_id,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY cos_full DESC, vec_id
                   ) AS rf,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY cos_pre DESC, vec_id
                   ) AS rp
            FROM s
        )
        SELECT qid AS query_id,
               CAST(SUM(CASE WHEN rf <= {_MAT_K} AND rp <= {_MAT_K}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
               {sql_half_up(
                   f"CAST(SUM(CASE WHEN rf <= {_MAT_K} AND rp <= {_MAT_K} "
                   f"THEN 1 ELSE 0 END) AS DOUBLE) / {_MAT_K}"
               )} AS recall_at_k
        FROM r GROUP BY qid
    """,
    "embed_pq_residual": f"""
        SELECT CAST(min(vec_id) AS BIGINT) AS query_id,
               CAST(count(*) AS BIGINT) AS n_vectors,
               true AS twin_same_cell,
               true AS twin_codes_match,
               true AS self_is_top_in_cell,
               true AS twin_ties_self_adc
        FROM {SQL_FINITE_EMBEDDINGS} embeddings
        WHERE embedding IS NOT NULL
        HAVING count(*) > 0
    """,
    "embed_pca": f"""
        SELECT count(*) AS n_vecs,
               CAST(min(len(embedding)) AS INTEGER) AS dim,
               4 AS k,
               true AS components_orthonormal,
               true AS eigs_nonincreasing,
               true AS proj_var_le_total
        FROM {SQL_FINITE_EMBEDDINGS} embeddings WHERE embedding IS NOT NULL
    """,
    "embed_quantize": f"""
        WITH base AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS absmax
            FROM {SQL_FINITE_EMBEDDINGS} embeddings
        ), nz AS (SELECT * FROM base WHERE absmax > 0.0),
        qd AS (
            SELECT vec_id, absmax, embedding,
                   list_transform(embedding,
                       x -> CAST(ROUND(CAST(x AS DOUBLE) * (127.0 / absmax), 0)
                                 AS BIGINT)) AS q
            FROM nz
        ), err AS (
            SELECT vec_id, absmax, q,
                   list_max(list_transform(list_zip(embedding, q),
                       p -> abs(CAST(p[1] AS DOUBLE)
                                - CAST(p[2] AS DOUBLE) * absmax / 127.0)))
                       AS recon
            FROM qd
        )
        SELECT vec_id,
               CAST(list_sum(q) AS BIGINT) AS q_sum,
               CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
               ROUND(recon, 6) AS max_err,
               recon <= 0.5 * absmax / 127.0 + 1e-12 AS err_ok
        FROM err
    """,
    "sim_topk": f"""
        WITH q AS (
            SELECT embedding AS qvec FROM {SQL_FINITE_EMBEDDINGS} embeddings
            WHERE vec_id = (SELECT MIN(vec_id) FROM {SQL_FINITE_EMBEDDINGS} embeddings WHERE embedding IS NOT NULL)
        )
        SELECT vec_id, label,
               ROUND({sql_cosine('embedding', 'qvec')}, 4) AS cos_sim
        FROM {SQL_FINITE_EMBEDDINGS} embeddings, q
        ORDER BY cos_sim DESC, vec_id
        LIMIT 20
    """,
    # the hot-block cap is the IDENTICAL deterministic md5(vec_id) rank
    # in both engines — a no-op below _SIM_BLOCK_CAP rows per label
    "sim_pairwise_topk": f"""
        WITH capped AS (
            SELECT vec_id, label, embedding
            FROM (
                SELECT e.*, row_number() OVER (
                           PARTITION BY label
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                       ) AS blk_rank
                FROM {SQL_FINITE_EMBEDDINGS} e
            )
            WHERE blk_rank <= {_SIM_BLOCK_CAP}
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({sql_cosine('a.embedding', 'b.embedding')}, 4) AS cos_sim
        FROM capped a JOIN capped b
          ON a.label = b.label AND a.vec_id < b.vec_id
        ORDER BY cos_sim DESC, vec_a, vec_b
        LIMIT 10
    """,
    # planted pairs (cos exactly 1.0) dominate the real max pair cosine
    # (~0.6), so the exact top-10 is statable: the 10 lowest vec_ids paired
    # with their planted copies, tie-broken by vec_a ascending.  The flag
    # CTE re-derives the Spark side's degeneracy probe (any duplicated
    # base vector voids planted-pair dominance): when it fires, BOTH
    # engines emit the vacuity rows (NULL pair columns, degenerate=TRUE)
    # instead of an unstateable tied top-10 — no gate allowlist needed.
    "sim_pairwise_lsh": f"""
        WITH base AS (
            SELECT vec_id
            FROM {SQL_FINITE_EMBEDDINGS} embeddings
            WHERE embedding IS NOT NULL
        ), flag AS (
            SELECT count(*) > count(DISTINCT CAST(embedding AS VARCHAR)) AS degenerate
            FROM {SQL_FINITE_EMBEDDINGS} embeddings
            WHERE embedding IS NOT NULL
        )
        SELECT vec_id AS vec_a,
               CASE WHEN NOT degenerate THEN vec_id + 10000000 END AS vec_b,
               CASE WHEN NOT degenerate THEN CAST(1.0 AS DOUBLE) END AS cos_sim,
               degenerate
        FROM base CROSS JOIN flag
        ORDER BY vec_id
        LIMIT 10
    """,
    # the FROM ... WHERE n > 0 wrapper mirrors the Spark side: an empty
    # corpus has no query vector, so neither engine emits a result row
    "sim_ann_lsh": f"""
        SELECT (SELECT MIN(vec_id) FROM {SQL_FINITE_EMBEDDINGS} embeddings WHERE embedding IS NOT NULL) AS query_id,
               TRUE AS self_is_top,
               CAST(1.0 AS DOUBLE) AS top_cos,
               (SELECT label FROM {SQL_FINITE_EMBEDDINGS} embeddings
                WHERE vec_id = (SELECT MIN(vec_id) FROM {SQL_FINITE_EMBEDDINGS} embeddings WHERE embedding IS NOT NULL)) AS label
        FROM (SELECT count(*) AS n FROM {SQL_FINITE_EMBEDDINGS} embeddings WHERE embedding IS NOT NULL) WHERE n > 0
    """,
    "sim_ivf": f"""
        SELECT (SELECT MIN(vec_id) FROM {SQL_FINITE_EMBEDDINGS} embeddings WHERE embedding IS NOT NULL) AS query_id,
               TRUE AS self_is_top,
               CAST(1.0 AS DOUBLE) AS top_cos,
               TRUE AS probed_subset
        FROM (SELECT count(*) AS n FROM {SQL_FINITE_EMBEDDINGS} embeddings WHERE embedding IS NOT NULL) WHERE n > 0
    """,
}
