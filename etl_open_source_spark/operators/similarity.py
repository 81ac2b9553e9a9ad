"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; sign-LSH near-dup and
IVF (inverted-file) ANN as the scale paths. All vector math is JVM-side
higher-order functions (`zip_with` + `aggregate`) over double-cast arrays —
no Python in the scoring loop.

At 100 TB: brute force is O(|Q|·|C|·d) — fine for small query sets against
a broadcast corpus block, wrong for all-pairs. IVF cuts the corpus term to
the probed buckets; sign-LSH cuts all-pairs near-dup to bucket-local pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


class EmptyTrainingSet(ValueError):
    """No usable vectors remain to fit a quantizer (empty corpus, or every
    vector dropped by the zero-norm policy / sampling). A distinct type so
    query surfaces can map it to their empty-in/empty-out contract without
    masking other ValueErrors (e.g. a dim % m mismatch) — the fit's own
    first-row probe doubles as the emptiness check, so callers don't pay a
    separate isEmpty() action on every non-empty run (ADVICE r10)."""


def as_double(vec) -> Column:
    col = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right double fold (deterministic order).
    [Measured: an unrolled a[0]*b[0]+...+a[63]*b[63] expression is ~3x
    SLOWER — the 64-deep Add tree with per-element null/bounds checks
    degrades codegen; the higher-order fold is the fast path.]"""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def usable_norm(col) -> Column:
    """Finite positive norm — the vector-usability predicate shared by
    every similarity entry point. A bare ``norm > 0`` is NOT enough:
    both Spark and DuckDB compare NaN (and +Inf) GREATER than 0, so a
    corrupt vector sails through and its NaN similarity then sorts
    FIRST under DESC — one poisoned vector becomes every query's top-1
    neighbor. Any NaN/±Inf component (or a sum-of-squares overflow)
    makes the norm non-finite, so this one check catches them all; NULL
    vectors yield a NULL predicate and are dropped by filter()."""
    return (~F.isnan(col)) & (col > 0) & (col != F.lit(float("inf")))


def has_nonfinite(col) -> Column:
    """True if any element of the array is NaN/±Inf; NULL for a NULL
    array or an array containing NULL elements (exists() three-valued
    semantics) — callers treating NULL as corrupt get the right drop
    from a plain filter(~has_nonfinite)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.exists(c, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))


def _drop_zero_norm(df: DataFrame, vec: str = "v") -> DataFrame:
    """Drop degenerate (all-zero, non-finite, null) vectors before
    unit-normalization. A zero-norm row divides to NaN/null array
    elements, and a NaN/Inf component poisons every downstream distance
    — either fails a KMeans fit or silently emits null codes/distances.
    A production encoder drops degenerate vectors at ingest, so every
    normalizing entry point here does the same (ADVICE r6)."""
    return df.filter(usable_norm(norm(F.col(vec))))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank). Self-matches
    excluded. Queries are broadcast; ranking is a per-query window with the
    neighbor id as tiebreak (WindowGroupLimit keeps only k per partition
    pre-shuffle). ``sim_decimals`` rounds similarity so ranking is stable
    across engines/platforms (FP dot products differ in the last ulp).
    Zero-norm and non-finite vectors are dropped from both sides —
    cosine against them is undefined (ANSI divide-by-zero / NaN sorting
    first), same policy as the PQ/IVF entry points. The norms AND the
    usability drop both happen inside the Arrow kernel (r13): the JVM-side
    usable_norm(norm(v)) filter cost FOUR interpreted 64-element folds per
    corpus row (Catalyst pushes the filter below the projection and
    re-substitutes the norm expression into every conjunct — no CSE),
    ~0.10 s of the 0.74 s query at sf0.1; the kernel's per-dimension
    accumulation produces the identical IEEE bits (see
    _brute_force_scores)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _vec_for_arrow(vec_col, queries).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _vec_for_arrow(vec_col, corpus).alias("cv")
    )
    # map-side top-k (r13): the kernel emits, per batch, only a provably
    # sufficient superset of each query's global top-k (threshold at the
    # (k + self/dup-inflation)-th best raw sim, widened by a rounding
    # slack) instead of |C|·|Q| rows — the distributed-top-k analogue of
    # WindowGroupLimit, but BEFORE the Python→JVM hop, so the boundary,
    # sort and shuffle all see k·|Q|-sized data. [Measured at sf0.1:
    # q_sim_knn_graph's 2000×2000 scorer fed a 4M-row single-task
    # window sort — 7.1 s of the query; pruned it emits ≤(k+1)·|Q| rows.]
    scored = _brute_force_scores(
        q,
        c,
        keep_top=k,
        keep_slack=(1.5 * 10.0 ** -sim_decimals) if sim_decimals is not None else 0.0,
    )
    sim = F.col("sim")
    if sim_decimals is not None:
        # rounding stays JVM-side: Spark's ROUND is shortest-repr HALF_UP
        # (BigDecimal.valueOf) while numpy rounds the binary value half-even
        # — the worker must hand back the RAW double for parity
        sim = F.round(sim, sim_decimals)
    scored = scored.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", sim.alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _vec_for_arrow(vec_col: str, df: DataFrame) -> Column:
    """The vector column as shipped to the Arrow kernel: float/double
    arrays cross RAW (the kernel's astype(float64) is the identical exact
    IEEE widening the old JVM cast performed, and skipping the JVM-side
    transform(cast) saves one interpreted per-element pass per row); any
    other element type keeps the JVM double cast so the kernel only ever
    sees numeric Arrow lists."""
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    dt = df.schema[vec_col].dataType
    if isinstance(dt, ArrayType) and isinstance(dt.elementType, (FloatType, DoubleType)):
        return F.col(vec_col)
    return as_double(vec_col)


def _vec_matrix_groups(vec_arr):
    """Group an Arrow list-of-numbers array by row dimension.

    Returns ``(groups, norms)``: ``groups`` maps dim → ``(row_indices,
    MT)`` where ``MT`` is the (dim × n_rows) float64 matrix of those rows
    TRANSPOSED (dimension-major, C-contiguous — the layout the
    per-dimension fold streams through); ``norms`` is a per-row float64
    vector of sqrt(left-to-right sum of squares), NaN for rows that are
    NULL or contain NULL elements (exactly the rows usable_norm() drops:
    their JVM norm is NULL). The fold order matches the JVM
    aggregate(zip_with(v, v, *), 0.0, +) chain bit-for-bit, and float32
    input is widened by astype — the same exact IEEE conversion as the
    JVM's cast(x as double)."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(vec_arr)
    norms = np.full(n, np.nan)
    groups: dict[int, tuple] = {}
    if n == 0:
        return groups, norms
    flat = None
    if vec_arr.null_count == 0:
        flat = vec_arr.flatten()
        if flat.null_count != 0:
            flat = None
    if flat is not None:
        # fast path (no NULL rows/elements): one flat buffer + a vectorized
        # gather per dim group — zero Python-object churn
        lens = pc.list_value_length(vec_arr).to_numpy().astype(np.int64)
        vals = np.asarray(flat.to_numpy(zero_copy_only=False), dtype=np.float64)
        starts = np.concatenate(([0], np.cumsum(lens[:-1])))
        for d in np.unique(lens):
            rows = np.nonzero(lens == d)[0]
            d = int(d)
            idx = starts[rows][None, :] + np.arange(d)[:, None]
            groups[d] = (rows, vals[idx])
    else:
        pyrows = vec_arr.to_pylist()
        by_dim: dict[int, list[int]] = {}
        for i, v in enumerate(pyrows):
            if v is None or any(x is None for x in v):
                continue  # norm would be NULL → usable_norm drops the row
            by_dim.setdefault(len(v), []).append(i)
        for d, ridx in by_dim.items():
            rows = np.asarray(ridx, dtype=np.int64)
            M = np.asarray([pyrows[i] for i in ridx], dtype=np.float64).reshape(
                rows.size, d
            )
            groups[d] = (rows, np.ascontiguousarray(M.T))
    # errstate: overflow/invalid (e.g. a 1e308² square, a NaN element) are
    # the exact IEEE results the JVM fold produces silently — the row is
    # then dropped by the usable_norm predicate; don't spam worker stderr
    with np.errstate(over="ignore", invalid="ignore"):
        for d, (rows, MT) in groups.items():
            acc = np.zeros(rows.size)
            t = np.empty(rows.size)
            for k in range(d):
                np.multiply(MT[k], MT[k], out=t)
                acc += t
            norms[rows] = np.sqrt(acc)
    return groups, norms


def _prunable_id_type(dt) -> bool:
    """Id types where Arrow value_counts equality provably matches Spark
    `=` semantics (integers, strings): the map-side top-k prune's
    self/duplicate-id inflation bound counts id multiplicities with Arrow,
    so any type whose equality could diverge (floats: NaN/-0.0 folding;
    decimals; cross-type coercion) disables pruning rather than risk
    dropping a row the JVM self-filter would have kept."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    return isinstance(dt, (ByteType, ShortType, IntegerType, LongType, StringType))


def _topk_keep_mask(sims, valid, K: int, slack: float):
    """Map-side top-k prune mask over a (corpus × query) sim matrix: keep
    every row whose raw sim is within ``slack`` of each query's K-th best.
    Invalid (NULL) sims key as +inf and are never the best. NaN sims key
    as -inf: Spark orders NaN above every number, so under sim DESC a NaN
    row ranks first — it is always kept, and it takes one of the K best
    slots when the threshold is picked (np.partition would otherwise sort
    it last and, with fewer than K numeric rows, make the threshold NaN)."""
    import numpy as np

    key = np.negative(sims)
    key[np.isnan(key)] = -np.inf
    key[~valid] = np.inf
    thr = np.partition(key, K - 1, axis=0)[K - 1, :]
    return key <= (thr[None, :] + slack)


def _brute_force_scores(
    q: DataFrame,
    c: DataFrame,
    keep_top: int | None = None,
    keep_slack: float = 0.0,
) -> DataFrame:
    """All-pairs raw cosine scores: (query_id, neighbor_id, sim) for every
    USABLE (query, corpus) row pair — the scoring heart of brute_force_topk,
    including the usable_norm() drop of zero-norm / non-finite / NULL
    vectors on both sides (computed inside the kernel — the JVM plan is
    scan → MapInArrow with no interpreted folds at all).

    Executed as ONE numpy pass per corpus partition (mapInArrow, guide
    §4.2): the query side is driver-fetched via toArrow() (bounded by the
    operator's broadcast-scale contract AND an explicit row cap,
    SPARK_GRAFT_BF_MAX_QUERY_ROWS, default 1M — a too-big query side now
    fails with a sizing error instead of an opaque driver OOM), shipped
    once per executor as a Spark broadcast (not re-pickled into every task
    closure), and each Arrow batch of corpus vectors scores against the
    whole query matrix with no per-row Python objects (flat-buffer gather
    in, Arrow take out).

    BIT-EXACT by construction, not approximately: the old JVM path folded
    aggregate(zip_with(qv, cv, *), 0.0, +) — a left-to-right scalar chain
    ((0 + q0·c0) + q1·c1) + ... — so the kernel accumulates S += C[k]·Q[k]
    one dimension at a time into a preallocated buffer, the same IEEE op
    sequence per element (NOT a BLAS matmul, whose blocked/pairwise
    summation differs in the last ulp and can flip a ROUND boundary).
    Norms are the same per-dimension fold of squares + sqrt (both
    java.lang.Math.sqrt and np.sqrt are correctly rounded), and the
    divisor is one rounded qn·cn product then one divide — the JVM's
    dot/(qn*cn) exactly. Batch-size independent: every element's op
    sequence depends only on its own row pair. Dimension-mismatched pairs
    yield NULL sim, matching zip_with's NULL padding through the fold.

    ``keep_top=k`` enables MAP-SIDE TOP-K: each batch emits only rows whose
    raw sim is within ``keep_slack`` of the batch's K-th best per query
    (K = k + the batch's worst-case self-match/duplicate-id/NULL-id
    inflation), a provable superset of every query's global top-k under
    the downstream (round(sim) DESC, neighbor ASC) ranking:

    - any global top-k row r has at most k-1 rows anywhere with rounded
      sim strictly greater, plus ≤ max-id-multiplicity self rows and ≤
      null-id rows in its batch that the JVM self-filter later removes —
      so at most K-1 batch rows can have raw sim > raw(r) + slack (a raw
      gap above 10^-decimals forces a strictly greater rounded value);
    - hence raw(r) ≥ (K-th best raw) − slack and the threshold keeps it;
      rounding-tie bands and NULL sims (threshold +inf) are kept whole,
      and so are NaN sims, which the downstream DESC order ranks first.

    Only enabled when both id types are integer/string (Arrow multiplicity
    counts provably match Spark `=` semantics — see _prunable_id_type);
    otherwise every pair is emitted and the JVM window does all the work.
    This is the operator's 100 TB output-volume lever: the Python→JVM
    boundary, partial sort and exchange see O(k·|Q|) rows per batch
    instead of O(|C|·|Q|)."""
    import os

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    qtype = q.schema["query_id"].dataType
    ctype = c.schema["neighbor_id"].dataType
    out_schema = StructType(
        [
            StructField("query_id", qtype, True),
            StructField("neighbor_id", ctype, True),
            StructField("sim", DoubleType(), True),
        ]
    )
    spark = q.sparkSession
    # bounded driver fetch: the query side of a brute-force scan is small
    # by contract (it was broadcast before — same footprint, now explicit).
    # limit(cap+1) bounds what the fetch can ever pull to the driver; one
    # row over the cap raises a descriptive sizing error (ADVICE r12).
    max_q = int(os.environ.get("SPARK_GRAFT_BF_MAX_QUERY_ROWS", "1000000"))
    qtbl = q.select("query_id", "qv").limit(max_q + 1).toArrow().combine_chunks()
    if qtbl.num_rows > max_q:
        raise ValueError(
            f"_brute_force_scores: query side exceeds {max_q} rows — the "
            "brute-force kernel driver-fetches and broadcasts the whole "
            "query matrix (broadcast-scale by contract). Batch the query "
            "set, use ivf_topk/pq_topk for large query sides, or raise "
            "SPARK_GRAFT_BF_MAX_QUERY_ROWS if the driver truly has the "
            "memory."
        )
    qvec_chunks = qtbl.column("qv")
    qvec = (
        qvec_chunks.chunk(0)
        if qvec_chunks.num_chunks
        else pa.array([], qvec_chunks.type)
    )
    qgroups, qnorms = _vec_matrix_groups(qvec)
    qusable = np.isfinite(qnorms) & (qnorms > 0)
    qkept = np.nonzero(qusable)[0]
    nq = int(qkept.size)
    if nq == 0:
        return spark.createDataFrame([], out_schema)
    qpos = np.full(len(qnorms), -1, dtype=np.int64)
    qpos[qkept] = np.arange(nq)
    qid_chunks = qtbl.column("query_id")
    q_ids_arrow = (
        qid_chunks.chunk(0) if qid_chunks.num_chunks else pa.array([], qid_chunks.type)
    ).take(pa.array(qkept))
    by_dim = {}
    for d, (rows, QT) in qgroups.items():
        kmask = qusable[rows]
        if not kmask.any():
            continue
        rows_k = rows[kmask]
        by_dim[d] = (
            qpos[rows_k],
            QT if kmask.all() else np.ascontiguousarray(QT[:, kmask]),
            qnorms[rows_k],
        )
    if keep_top is not None and not (
        qtype == ctype and _prunable_id_type(qtype) and _prunable_id_type(ctype)
    ):
        keep_top = None
    bc = spark.sparkContext.broadcast(
        {"q_ids": q_ids_arrow, "by_dim": by_dim, "nq": nq}
    )

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        payload = bc.value
        q_ids, q_by_dim, nq = payload["q_ids"], payload["by_dim"], payload["nq"]
        for batch in batches:
            ids_arr = batch.column("neighbor_id")
            groups, norms = _vec_matrix_groups(batch.column("cv"))
            usable = np.isfinite(norms) & (norms > 0)
            kept = np.nonzero(usable)[0]
            nc = int(kept.size)
            pos = np.full(len(norms), -1, dtype=np.int64)
            pos[kept] = np.arange(nc)
            sims = np.zeros((nc, nq))
            valid = np.zeros((nc, nq), dtype=bool)
            for d, (rows, CT) in groups.items():
                qrec = q_by_dim.get(d)
                if qrec is None:
                    continue
                q_cols, QT, qns = qrec
                kmask = usable[rows]
                if not kmask.any():
                    continue
                rows_k = rows[kmask]
                CTk = CT if kmask.all() else np.ascontiguousarray(CT[:, kmask])
                cns = norms[rows_k]
                S = np.zeros((rows_k.size, q_cols.size))
                T = np.empty_like(S)
                # left-to-right fold, one dimension per step — the exact
                # ((0 + x0·y0) + x1·y1) + ... sequence of the JVM aggregate()
                with np.errstate(over="ignore", invalid="ignore"):
                    for k in range(d):
                        np.multiply(CTk[k][:, None], QT[k][None, :], out=T)
                        S += T
                    np.multiply(qns[None, :], cns[:, None], out=T)
                    S /= T
                sims[np.ix_(pos[rows_k], q_cols)] = S
                valid[np.ix_(pos[rows_k], q_cols)] = True
            if keep_top is not None and nc:
                # worst-case inflation: self rows the JVM filter removes
                # later can occupy up to max-id-multiplicity top slots per
                # query, NULL-id rows up to null_count more
                kept_ids = ids_arr.take(pa.array(kept))
                mult = 0
                if len(kept_ids):
                    vc = pc.value_counts(kept_ids)
                    mx = pc.max(vc.field("counts")).as_py()
                    mult = int(mx) if mx is not None else 0
                K = keep_top + mult + kept_ids.null_count
                if nc > K:
                    keep = _topk_keep_mask(sims, valid, K, keep_slack)
                    rows_i, cols_i = np.nonzero(keep)
                    yield pa.RecordBatch.from_arrays(
                        [
                            q_ids.take(pa.array(cols_i)),
                            ids_arr.take(pa.array(kept[rows_i])),
                            pa.array(sims[keep], pa.float64(), mask=~valid[keep]),
                        ],
                        names=["query_id", "neighbor_id", "sim"],
                    )
                    continue
            yield pa.RecordBatch.from_arrays(
                [
                    q_ids.take(pa.array(np.tile(np.arange(nq, dtype=np.int64), nc))),
                    ids_arr.take(pa.array(np.repeat(kept, nq))),
                    pa.array(sims.ravel(), pa.float64(), mask=~valid.ravel()),
                ],
                names=["query_id", "neighbor_id", "sim"],
            )

    return c.select("neighbor_id", "cv").mapInArrow(score, out_schema)


# ------------------------------------------------------------------ IVF


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine) →
    (vec_id, embedding, bucket). Centroids are broadcast; one pass."""
    # zero-norm guard (ADVICE r6): cosine divides by vn*cn, an ANSI
    # divide-by-zero for a degenerate all-zero vector or centroid —
    # drop both up front, same policy as the PQ entry points
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "vn", norm(F.col("v"))
    ).filter(usable_norm(F.col("vn")))
    cen = centroids.select(
        F.col("centroid_id"), as_double("centroid").alias("cv")
    ).withColumn("cn", norm(F.col("cv"))).filter(usable_norm(F.col("cn")))
    sim = dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn"))
    w = Window.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("centroid_id"))
    return (
        c.crossJoin(broadcast(cen))
        .select(id_col, "v", "vn", "centroid_id", sim.alias("csim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("v"), F.col("vn"), F.col("centroid_id").alias("bucket"))
    )


def sample_centroids(corpus: DataFrame, n: int = 16, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Cheapest deterministic centroid seed: the n smallest ids (compiles
    to TakeOrdered — no global sort). Bucket balance is arbitrary; use
    ``kmeans_centroids`` for real recall, this for reproducible tests."""
    return (
        corpus.orderBy(id_col)
        .limit(n)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid"))
    )


def _k_clamped_to_distinct(train: DataFrame, col, k: int) -> int:
    """``min(k, countDistinct(col))`` — but cheap on healthy inputs.

    Spark 4.x block-mode KMeans throws ArrayIndexOutOfBounds when ``k``
    exceeds the distinct training points, so every fit clamps. The
    degenerate case (a collapsed/near-constant training column) is tiny
    by definition, so don't pay a full distinct aggregation per fit on
    every healthy call (ADVICE r8): one approx_count_distinct pass (HLL++
    sketch merge — no distinct-row shuffle) settles the healthy case.
    The sketch's relative error is ~2-5%, so an estimate ≥ 2k cannot be
    hiding a true count < k; only estimates under 2k (degenerate or
    near-degenerate) fall through to the exact distinct count."""
    est = train.agg(F.approx_count_distinct(col).alias("c")).first()["c"]
    if est >= 2 * k:
        return k
    return max(1, min(k, train.select(col.alias("__d")).distinct().count()))


def _mean_vector(ds: DataFrame, op: str) -> list[float]:
    """Exact per-dimension mean of a ``features`` vector column — the k=1
    k-means optimum. One distributed agg (Summarizer), no collect of rows.
    Raises a clear error on an empty training frame instead of the opaque
    'NoneType is not subscriptable' a bare ``ds.first()`` produced
    (ADVICE r9)."""
    from pyspark.ml.stat import Summarizer

    # 1-row emptiness probe (sanctioned bounded fetch): Summarizer's JVM
    # buffer throws an opaque IllegalArgumentException on empty input.
    if ds.first() is None:
        raise EmptyTrainingSet(
            f"{op}: empty training set — no usable vectors remain after the "
            "zero-norm drop / sampling; nothing to fit"
        )
    row = ds.agg(Summarizer.mean(F.col("features")).alias("m")).first()
    return [float(x) for x in row["m"]]


def kmeans_centroids(
    corpus: DataFrame,
    n: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Proper IVF centroids: k-means|| (spark.ml KMeans) over the corpus
    (or a uniform sample of it — at 10^9+ vectors fit on a few-million-row
    sample; the assignment pass downstream still sees every vector).
    Returns (centroid_id, centroid: array<double>) — n rows, driver-sized,
    always broadcastable."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # zero-norm vectors are dropped from training to match the engine-wide
    # drop policy (ivf_assign/ivf_topk never route them), so no centroid
    # collapses onto the origin.
    v = _drop_zero_norm(corpus.select(as_double(vec_col).alias("__v")), "__v")
    if sample_fraction is not None:
        v = v.sample(fraction=sample_fraction, seed=seed)
    ds = v.select(array_to_vector(F.col("__v")).alias("features")).persist()
    # try/finally: _mean_vector raises EmptyTrainingSet on an empty corpus
    # AFTER the persist — without the finally, every empty-corpus query run
    # leaves a cached empty frame registered for the session (ADVICE r11).
    try:
        n_eff = _k_clamped_to_distinct(v, F.col("__v"), n)
        if n_eff < 2:
            # KMeans rejects k=1, so this branch covers (a) an explicit n=1
            # request on a diverse corpus and (b) a fully-constant training
            # set. Both have the same exact answer: the k=1 k-means optimum
            # is the MEAN vector (which for constant data is the point
            # itself) — never an arbitrary first row (ADVICE r9).
            centers = [(0, _mean_vector(ds, "kmeans_centroids"))]
            return corpus.sparkSession.createDataFrame(
                centers, "centroid_id int, centroid array<double>"
            )
        model = KMeans(
            k=n_eff, seed=seed, maxIter=max_iter, initMode="k-means||"
        ).fit(ds)
    finally:
        ds.unpersist()
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        centers, "centroid_id int, centroid array<double>"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int | None = 6,
) -> DataFrame:
    """ANN top-k: search only the ``nprobe`` nearest centroid buckets per
    query instead of the whole corpus. Approximate (recall < 1) but the
    per-query cost drops from O(|C|) to O(|C|·nprobe/n_buckets)."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    # zero-norm guard on BOTH the centroid and query sides (corpus side
    # lives inside ivf_assign): a zero-norm query makes sim = 0/0 = NaN
    # for every candidate, and NaN sorts ABOVE all doubles under DESC —
    # the degenerate query would return k arbitrary neighbors instead of
    # being dropped per the _drop_zero_norm policy (self-review finding)
    cen = centroids.select(F.col("centroid_id"), as_double("centroid").alias("cv")).withColumn(
        "cn", norm(F.col("cv"))
    ).filter(usable_norm(F.col("cn")))
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")).withColumn(
        "qn", norm(F.col("qv"))
    ).filter(usable_norm(F.col("qn")))
    qsim = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    wq = Window.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("centroid_id"))
    probes = (
        q.crossJoin(broadcast(cen))
        .select("query_id", "qv", "qn", "centroid_id", qsim.alias("qsim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", F.col("centroid_id").alias("bucket"))
    )
    sim = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn"))
    if sim_decimals is not None:
        sim = F.round(sim, sim_decimals)
    scored = (
        probes.join(assigned, "bucket")
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------- embedding near-dup


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """All pairs with cosine >= threshold, via sign-LSH: 16 pseudo-random
    hyperplane sign bits (derived from xxhash64, no stored model), banded
    4×4 so near-identical vectors collide in at least one band with
    overwhelming probability; exact cosine verifies candidates.

    Sizing at scale: the per-band keyspace is 2^(planes/bands), and the
    band self-join costs Σ bucket² — so ``planes``/``bands`` must grow
    with the corpus until corpus/2^(planes/bands) is a tolerable bucket
    size (e.g. 64 planes × 8 bands → 256-bucket bands for fixtures;
    256 planes × 16 bands → 65k-bucket bands for billions of rows).
    The 16×4 default is fixture-sized. Exact-dedup identical vectors
    first; they collide in every band by construction.

    ``dim`` must equal the actual embedding width: the hyperplanes have
    exactly ``dim`` components, and a mismatch is guarded with a hard
    runtime error — silently zip-padding would give EVERY vector the
    all-zero signature, collapsing all rows into one bucket per band and
    turning the candidate join quadratic (the exact blow-up LSH exists
    to prevent)."""
    # zero-norm guard: an all-zero vector has every sign bit 0, so it
    # collides in EVERY band (a degenerate hot bucket) and then the exact
    # cosine verify divides by zero — drop it up front like the other
    # similarity entry points
    v = corpus.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v")).withColumn(
        "vn", norm(F.col("v"))
    ).filter(usable_norm(F.col("vn")))
    v = v.withColumn(
        "v",
        F.when(F.size("v") == dim, F.col("v")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"embedding_near_dup_pairs: dim mismatch — expected {dim}, got "),
                    F.size("v").cast("string"),
                    F.lit(f" (pass dim=<actual width> for {vec_col!r})"),
                )
            )
        ),
    )
    # plane p component d ∈ [-1,1): deterministic hash-derived pseudo-randoms.
    # Built as ONE parsed expression per plane: the per-Column composition
    # cost a py4j round-trip per node (16 planes × 64 components × ~6 nodes
    # ≈ 6000 driver round-trips per build). Identical tree — same int
    # literals, same % remainder (not pmod), same double divide — and the
    # all-literal array constant-folds at optimize time either way.
    def plane_dot(p: int):
        comps = F.expr(
            "array("
            + ", ".join(f"(xxhash64({p}, {d}) % 10007) / 10007.0" for d in range(dim))
            + ")"
        )
        return dot(F.col("v"), comps)

    bits = [F.when(plane_dot(p) > 0, 1).otherwise(0).alias(f"bit{p}") for p in range(planes)]
    sig = v.select("id", "v", "vn", *bits)
    per_band = planes // bands
    band_keys = F.array(
        *[
            sum(
                F.col(f"bit{b * per_band + j}") * (1 << j) for j in range(per_band)
            ).cast("int")
            for b in range(bands)
        ]
    )
    banded = sig.select("id", "v", "vn", F.posexplode(band_keys).alias("band", "key"))
    a = banded.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("vn").alias("na"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("vn").alias("nb"), "band", "key")
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
        .distinct()
        .filter(F.col("sim") >= threshold)
    )


# ------------------------------------------------ product quantization


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector is split into
    ``m`` contiguous subspaces and each gets its own ``k``-code k-means||
    codebook (fit on unit-normalized vectors so ADC's L2 ranking matches
    cosine ranking downstream). Returns ``codebooks[s][c]`` as a plain
    nested list — m*k*(dim/m) floats, model-sized (a few KB), which ships
    to executors as a literal expression, never a shuffle.

    At 10^9+ vectors, fit on a sample (``sample_fraction``) — codebook
    quality saturates at a few million training points; the encode pass
    downstream still sees every vector.

    The ``m`` subspace fits are INDEPENDENT jobs over disjoint slices of
    the same cached frame, so they run from a small driver thread pool
    (guide §2.6 — overlap independent jobs): one fit's iteration tail
    back-fills executors with the next fit's work instead of leaving the
    cluster idle between 20-iteration fits of a tiny frame. Results are
    unchanged — each fit sees the identical data and per-subspace seed,
    and k-means|| is deterministic for a fixed (data, seed); only the
    wall-clock overlaps. [Measured at sf0.1: 8 sequential fits 16-18 s →
    4 threads ~6 s, identical codebooks.]"""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = _drop_zero_norm(corpus.select(as_double(vec_col).alias("v")))
    if sample_fraction is not None:
        v = v.sample(fraction=sample_fraction, seed=seed)
    nv = F.transform("v", lambda x: x / norm(F.col("v")))
    v = v.select(nv.alias("v")).persist()
    # try/finally: the empty-corpus raise (and the dim%m assert) fire AFTER
    # the persist — without the finally, every such run leaves a cached
    # frame registered for the session (ADVICE r11).
    try:
        first = v.first()
        if first is None:
            raise EmptyTrainingSet(
                "pq_train: empty training set — no usable vectors remain "
                "after the zero-norm drop / sampling; nothing to fit"
            )
        dim = len(first["v"])
        assert dim % m == 0, f"dim {dim} not divisible by m={m}"
        dsub = dim // m

        def fit_subspace(s: int) -> list[list[float]]:
            ds = v.select(
                array_to_vector(F.slice("v", s * dsub + 1, dsub)).alias("features")
            ).persist()
            try:
                # A collapsed/degenerate subspace (e.g. a corpus of
                # near-identical vectors) has fewer than k distinct points
                # and crashes block-mode KMeans — clamp, via the
                # sketch-first guard (ADVICE r8). KMeans also rejects k=1
                # outright, so a fully-constant subspace (or an explicit
                # k=1 request) takes the exact k=1 optimum instead: the
                # subspace MEAN (for constant data, the point itself) —
                # never an arbitrary first row (ADVICE r9).
                k_eff = _k_clamped_to_distinct(
                    v, F.slice("v", s * dsub + 1, dsub), k
                )
                if k_eff < 2:
                    return [_mean_vector(ds, "pq_train")]
                model = KMeans(
                    k=k_eff, seed=seed + s, maxIter=max_iter,
                    initMode="k-means||",
                ).fit(ds)
                return [[float(x) for x in c] for c in model.clusterCenters()]
            finally:
                ds.unpersist()

        # 4 fits in flight: enough to fill iteration tails, not so many
        # that tiny k-means jobs fight for task slots (guide §2.6)
        with ThreadPoolExecutor(max_workers=min(m, 4)) as pool:
            books = list(pool.map(fit_subspace, range(m)))
    finally:
        v.unpersist()
    return books


def _codebook_lit(codebook: list[list[float]]) -> Column:
    """One subspace's codebook as a literal array<array<double>>."""
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in codebook]
    )


def _l2sq(a, b) -> Column:
    d = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-code ids → (id, codes
    array<int>). Entirely scan-local: the codebooks ride along as literal
    expressions and the per-subspace argmin is an array fold — zero
    exchanges, zero Python. Ties break to the lowest code id
    (array_position returns the first minimum)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    v = _drop_zero_norm(corpus.select(F.col(id_col), as_double(vec_col).alias("v")))
    nv = F.transform("v", lambda x: x / norm(F.col("v")))
    v = v.select(id_col, nv.alias("v"))
    codes = []
    for s in range(m):
        sub = F.slice("v", s * dsub + 1, dsub)
        dists = F.transform(_codebook_lit(codebooks[s]), lambda c: _l2sq(sub, c))
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return v.select(id_col, F.array(*codes).alias("codes"))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_decimals: int | None = 6,
    rerank: int | None = None,
) -> DataFrame:
    """ANN top-k by asymmetric distance (ADC): corpus vectors live only as
    their m-byte codes; each query scores a code by summing exact
    query-subvector-to-centroid distances. The 8x-32x memory compression
    is the point at scale — the candidate scan touches codes, never raw
    vectors.

    ``rerank=N`` enables the standard two-stage search: ADC shortlists N
    candidates per query (vectors inside one quantization cell tie on
    adist — a coarse codebook cannot order them), then ONLY the shortlist
    joins back to raw vectors for exact cosine ranking. At scale that is
    the whole point of PQ: the full scan reads m-byte codes; raw floats
    are fetched for |Q|·N rows, not |C|.

    Shape mirrors brute_force_topk: queries broadcast onto the encoded
    corpus, per-pair distance is an m-term sum of literal-codebook
    lookups (scan-local, codegen), then the per-query top-k window
    (WindowGroupLimit). Returns (query_id, neighbor_id, adist, rank) —
    rank ascending by approximate distance (or exact cosine descending
    when re-ranking), neighbor id tiebreak."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    enc = pq_encode(corpus, codebooks, id_col, vec_col)
    q = _drop_zero_norm(
        queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")),
        "qv",
    )
    qn = F.transform("qv", lambda x: x / norm(F.col("qv")))
    q = q.select("query_id", qn.alias("qv"))
    terms = []
    for s in range(m):
        qsub = F.slice("qv", s * dsub + 1, dsub)
        centroid = F.element_at(
            _codebook_lit(codebooks[s]), F.element_at("codes", s + 1) + 1
        )
        terms.append(_l2sq(qsub, centroid))
    adist = sum(terms[1:], terms[0])
    if dist_decimals is not None:
        adist = F.round(adist, dist_decimals)
    scored = (
        enc.crossJoin(broadcast(q.select("query_id", "qv")))
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"), adist.alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id"))
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
        )
    assert rerank >= k, "rerank shortlist must be at least k"
    shortlist = (
        scored.withColumn("__srn", F.row_number().over(w))
        .filter(F.col("__srn") <= rerank)
        .select("query_id", "neighbor_id", "adist")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    sim = dot(F.col("qv"), F.col("cv")) / F.col("cn")  # qv is unit-norm
    rescored = (
        shortlist.join(cv, "neighbor_id")
        .join(broadcast(q), "query_id")
        .select("query_id", "neighbor_id", "adist", F.round(sim, 6).alias("__sim"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= k)
        .drop("__sim")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN top-k — the standard billion-scale composition: the IVF
    coarse quantizer prunes the corpus to ``nprobe`` probed buckets per
    query, PQ codes stand in for raw vectors inside those buckets (ADC
    scoring over m-byte codes), and only the per-query shortlist of
    ``rerank`` candidates touches raw floats for the exact cosine
    ranking.

    Cost per query: O(n_centroids) probe scoring + O(|C|·nprobe/n_buckets)
    ADC lookups + O(rerank·d) exact math — vs O(|C|·d) for brute force.
    Every stage is JVM-side: centroids and codebooks ride as broadcast /
    literal expressions, the bucket restriction is an equi-join on the
    bucket id, and the two rankings are per-query windows
    (WindowGroupLimit)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # corpus zero-norm rows are already dropped INSIDE ivf_assign
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    nv = F.transform("v", lambda x: x / F.col("vn"))
    codes = []
    for s in range(m):
        sub = F.slice(nv, s * dsub + 1, dsub)
        dists = F.transform(_codebook_lit(codebooks[s]), lambda c: _l2sq(sub, c))
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    enc = assigned.select(
        F.col(id_col), "v", "vn", "bucket", F.array(*codes).alias("codes")
    )

    # zero-norm centroid guard, matching ivf_topk/ivf_assign: qsim = dot/0
    # is NaN, which sorts first under DESC and would burn a probe on an
    # empty degenerate bucket.
    cen = centroids.select(
        F.col("centroid_id"), as_double("centroid").alias("cv")
    ).withColumn("cn", norm(F.col("cv"))).filter(usable_norm(F.col("cn")))
    q = _drop_zero_norm(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv0")
        ),
        "qv0",
    )
    q = q.select("query_id", F.transform("qv0", lambda x: x / norm(F.col("qv0"))).alias("qv"))
    qsim = dot(F.col("qv"), F.col("cv")) / F.col("cn")
    wq = Window.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("centroid_id"))
    probes = (
        q.crossJoin(broadcast(cen))
        .select("query_id", "qv", "centroid_id", qsim.alias("qsim"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", F.col("centroid_id").alias("bucket"))
    )

    terms = []
    for s in range(m):
        qsub = F.slice("qv", s * dsub + 1, dsub)
        centroid = F.element_at(
            _codebook_lit(codebooks[s]), F.element_at("codes", s + 1) + 1
        )
        terms.append(_l2sq(qsub, centroid))
    adist = F.round(sum(terms[1:], terms[0]), 6)
    scored = (
        probes.join(enc, "bucket")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id", "qv", F.col(id_col).alias("neighbor_id"),
            "v", "vn", adist.alias("adist"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id"))
    shortlist = (
        scored.withColumn("__srn", F.row_number().over(ws))
        .filter(F.col("__srn") <= max(rerank, k))
    )
    sim = F.round(dot(F.col("qv"), F.col("v")) / F.col("vn"), 6)  # qv unit-norm
    w2 = Window.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id"))
    return (
        shortlist.select("query_id", "neighbor_id", "adist", sim.alias("__sim"))
        .withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= k)
        .drop("__sim")
    )
