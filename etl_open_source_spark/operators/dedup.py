"""Deduplication operators for LLM-corpus pipelines (driver mandate,
BASELINE.json:6 — the reference has no text processing at all).

Four families, each with a distinct scale profile:

- exact          : hash group-by; one shuffle on the dedup key.
- n-gram Jaccard : exact set similarity via inverted-index self-join —
                   correct but O(sum of postings²) on hot shingles.
- MinHash + LSH  : sub-quadratic near-dup at 100 TB: signatures (one
                   shuffle), banding (hash-bucket join), exact verify only
                   on candidates.
- SimHash        : 64-bit fingerprints, hamming-band candidate join.

All JVM-side (built-in functions only — no Python UDFs in any hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_open_source_spark.operators.caching import owned_persist

# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per ``keys`` — the one with the smallest
    ``order_col`` (deterministic, unlike dropDuplicates). One shuffle."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------- shingling


def _shingle_expr(n: int, distinct: bool) -> F.Column:
    """The ONE shingle-array expression every n-gram consumer shares
    (over a materialized ``__ws`` words column): a fork of this expression
    silently diverging is a cross-metric inconsistency, not duplication.

    Direct ws[i] indexing codegens ~6x faster than slice()-per-shingle
    (no sub-array allocation per element); multi-arg xxhash64 chains the
    running hash as seed so word boundaries stay unambiguous. The CASE
    guard makes the expression TOTAL on short docs: callers filter
    size(__ws) >= n, but optimizer rules (InferFiltersFromGenerate) can
    re-evaluate the transform on pre-filter rows, where
    sequence(0, size-n) DESCENDS for size < n and __ws[i+1] then
    hard-errors under ANSI (measured crash on a 1-word doc, r12)."""
    terms = ", ".join(f"__ws[i+{j}]" for j in range(n))
    sh = F.expr(
        f"CASE WHEN size(__ws) >= {n} "
        f"THEN transform(sequence(0, size(__ws) - {n}), i -> xxhash64({terms})) "
        f"ELSE array() END"
    )
    return F.array_distinct(sh) if distinct else sh


def _with_words(df: DataFrame, text_col: str) -> DataFrame:
    from etl_open_source_spark.operators.text import ascii_fold

    return df.withColumn("__ws", F.split(ascii_fold(text_col), " "))


def word_shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Per-doc DISTINCT shingle sets as (id, shingles: array<long>) — the
    scan-local (zero-exchange) form of ``word_shingles``: sizes become
    ``size(shingles)``, exact intersections become ``array_intersect``.
    Consumers that never need a doc-frequency cap (MinHash verify,
    uncapped Jaccard) should prefer this and skip the explode + groupBy
    round-trip entirely (r12). CAUTION: explode this frame only AFTER a
    persist()/materialization — explode directly over the lazy projection
    lets predicate pushdown rewrite the optimizer's inferred
    size(...)>0 generate-filter in terms of the raw text column, where
    the lambda re-splits the text PER ELEMENT: O(doc²), a measured
    25-minute hang on the multi-MB-doc axis (r12; same class as the
    winnowing hang fixed in operators/text.py)."""
    return (
        _with_words(df, text_col)
        .filter(F.size("__ws") >= n)
        .select(F.col(id_col).alias("id"), _shingle_expr(n, True).alias("shingles"))
    )


def shingle_positions(
    df: DataFrame, id_col: str, text_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(id, shingle) rows over 64-bit-hashed word n-grams — the exploded
    (inverted-index) view of :func:`_shingle_expr`.

    ``distinct=True`` dedupes within-doc (set semantics); ``False`` keeps
    every position.

    The explode lives in the SAME projection as the words column (no
    intermediate array-column select): with an extra projection boundary,
    the optimizer's inferred generate-filter gets substituted through to
    the raw text column and its lambda re-splits the text per element —
    O(doc²), measured 0.55 s → 92.7 s on one 8000-word doc (r12)."""
    return (
        _with_words(df, text_col)
        .filter(F.size("__ws") >= n)
        .select(
            F.col(id_col).alias("id"),
            F.explode(_shingle_expr(n, distinct)).alias("shingle"),
        )
    )


def word_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles: (id, shingle) with the shingle as a
    64-bit xxhash64 of its n words — the n-gram string is never built
    (no concat allocations) and every downstream join/groupBy keys on an
    8-byte long instead of a ~20-byte string. Collisions merge two
    distinct n-grams with p ≈ |shingles|²/2⁶⁵ (≈1e-9 at 10⁵ shingles;
    ~ppb error in intersection counts at 10¹² — the standard trade in
    shingle-based dedup, and what MinHash does anyway).

    ``max_doc_freq`` drops shingles appearing in more than that many docs
    — the skew guard for the inverted-index join (a shingle in 1M docs
    creates 10^12 join rows); pairs sharing ONLY ultra-common shingles are
    then missed, by design."""
    out = shingle_positions(df, id_col, text_col, n, distinct=True)
    if max_doc_freq is not None:
        # The hot list is |{shingles with df > cap}| — tiny by construction
        # (bounded by corpus_size/cap) — so broadcast it: the anti-join then
        # costs one map-side pass instead of re-shuffling every (id, shingle)
        # pair. The df count itself is map-side-combinable (partial counts
        # per distinct shingle per task), never a full-row shuffle.
        hot = (
            out.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        out = out.join(F.broadcast(hot), "shingle", "left_anti")
    return out


# ------------------------------------------------ per-doc shingle arrays


def _capped_doc_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int, max_doc_freq: int
) -> DataFrame:
    """Per-doc sorted shingle arrays with the doc-frequency cap applied
    ARRAY-SIDE (r13): persist the scan-local per-doc arrays (one row per
    doc), build the over-cap hot list by exploding OFF that cache (the
    explode-behind-a-persist shape — the O(doc²) inlining trap cannot
    fire through an InMemoryRelation), fold it to a single broadcast row,
    and subtract per doc with array_except. The old shape persisted the
    exploded (doc, shingle) index and re-grouped it with a
    collect_list(shingle) — a full exchange of every posting row — to get
    the same arrays; the cache now holds one row per doc and the re-group
    exchange is gone. Docs that lose every shingle keep an empty array
    (no prefix, no candidates) — exactly as absent docs behaved.

    The hot list is corpus_size/cap rows by construction (that is what
    makes them hot), so the single collected array stays model-sized at
    any corpus scale — the same bound the old broadcast anti-join relied
    on."""
    arrays = owned_persist(word_shingle_arrays(df, id_col, text_col, n))
    hot = (
        arrays.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .agg(F.collect_list("shingle").alias("hot"))
    )
    return arrays.crossJoin(F.broadcast(hot)).select(
        "id", F.sort_array(F.array_except("shingles", "hot")).alias("arr")
    )


def _sorted_doc_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int, max_doc_freq: int | None
) -> DataFrame:
    """(id, arr): each doc's distinct shingles sorted by hash value, capped
    by ``max_doc_freq`` when set. Uncapped, the arrays are SCAN-LOCAL: no
    explode, no groupBy — the only exchanges left are the candidate
    join's own."""
    if max_doc_freq is not None:
        return _capped_doc_arrays(df, id_col, text_col, n, max_doc_freq)
    return word_shingle_arrays(df, id_col, text_col, n).select(
        "id", F.sort_array("shingles").alias("arr")
    )


# ------------------------------------- prefix-filter set-similarity join


def _prefix_candidates(
    docs: DataFrame, frac: float, prefix_to_full: bool
) -> tuple[DataFrame, DataFrame]:
    """Candidate step of the prefix-filter set-similarity join
    (AllPairs/PPJoin: Bayardo et al., Xiao et al.) behind n-gram Jaccard,
    n-gram containment and neighbour-set link prediction.

    ``docs`` is (id, arr, …carried columns) with ``arr`` sorted and
    distinct. Returns ``(indexed, cand)``: ``indexed`` is ``docs`` plus
    ``n = size(arr)`` and the prefix, persisted — verify against it with
    :func:`_verify_pairs`; ``cand`` is the distinct (id_a, id_b) candidate
    pairs — a SUPERSET of every pair whose overlap reaches ``frac`` of the
    set that owns the prefix — each unordered pair once: id_a < id_b for
    prefix ⋈ prefix, id_a the smaller set for smaller prefix ⋈ larger full.

    Prefix lemma: if |a∩b| ≥ f·|x| for a set x ∈ {a, b}, the SMALLEST
    shared element (in the global sort order — any total order works, and
    the hash/id order is free) lies within x's first |x| − ⌈f·|x|⌉ + 1
    elements: otherwise every shared element sits among x's last
    ⌈f·|x|⌉ − 1 and |a∩b| < f·|x|. The caller turns its measure into f:

    - ``prefix_to_full=False`` (prefix ⋈ prefix): the bound holds for
      BOTH sets, so indexing each set's prefix and equi-joining prefixes
      finds the pair. Jaccard: J ≥ t ⇒ |a∩b| ≥ t·max(|a|,|b|), f = t.
    - ``prefix_to_full=True`` (smaller prefix ⋈ larger full): the bound
      holds only for the SMALLER set x (ties by id), so x's prefix joins
      the other set's FULL array. Containment C(src→dst) ≥ t ⇒ |a∩b| ≥
      t·n_src ≥ t·min(n_a, n_b), f = t — a tiny doc can sit in any suffix
      of a huge one, so the larger side gets no prefix. Graph Jaccard
      J ≥ t ⇒ common ≥ (t/(1+t))·(deg_a + deg_b) ≥ (2t/(1+t))·n_small,
      f = 2t/(1+t), with n ≤ deg.

    ⌈f·n⌉ must never round UP past the exact value — that would SHORTEN a
    prefix and could drop a boundary pair — so an epsilon is subtracted
    first: an FP product like 3.0000000000000004 still ceils to 3, while a
    true non-integer product keeps its ceil or lengthens the prefix by one
    (a larger superset, still exact). The epsilon may only ever LENGTHEN a
    prefix. It is SIZE-RELATIVE (1e-9 + n·1e-15): f·n's FP error is
    ~n·2⁻⁵³, so a constant alone could under-guard sets beyond ~10⁷
    elements (ADVICE r12)."""
    indexed = owned_persist(
        docs.select(
            "*",
            F.size("arr").alias("n"),
            F.expr(
                f"slice(arr, 1, size(arr) - CAST(CEIL({frac} * size(arr)"
                f" - 1e-9 - size(arr) * 1e-15) AS INT) + 1)"
            ).alias("prefix"),
        )
    )
    if not prefix_to_full:
        pref = indexed.select("id", F.explode("prefix").alias("shingle"))
        cand = (
            pref.select(F.col("id").alias("id_a"), "shingle")
            .join(pref.select(F.col("id").alias("id_b"), "shingle"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        return indexed, cand.distinct()
    pref = indexed.select("id", "n", F.explode("prefix").alias("shingle"))
    full = indexed.select("id", "n", F.explode("arr").alias("shingle"))
    cand = (
        pref.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"), "shingle")
        .join(
            full.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"), "shingle"),
            "shingle",
        )
        .filter(
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .select("id_a", "id_b")
    )
    return indexed, cand.distinct()


def _verify_pairs(pairs: DataFrame, docs: DataFrame, *carried: str) -> DataFrame:
    """Verify step: join (id_a, id_b) pairs back to both sides' arrays in
    ``docs`` (id, arr, …) and add the exact overlap ``inter = |a∩b|``.
    Each ``carried`` column rides along as ``<col>_a`` / ``<col>_b``.
    One array_intersect per pair — no per-pair count aggregate, no
    shuffle of the pair multiset."""

    def side(s: str) -> DataFrame:
        return docs.select(
            F.col("id").alias(f"id_{s}"),
            F.col("arr").alias(f"__arr_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carried],
        )

    return (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("__arr_a", "__arr_b")))
    )


def _jaccard_at_least(verified: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) of verified pairs with jaccard >= threshold."""
    return (
        verified.withColumn(
            "jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------- exact n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold — exact, the
    baseline the probabilistic methods are judged against. Prefix ⋈
    prefix candidates at f = threshold, then the array verify (see
    :func:`_prefix_candidates`).

    [Measured at sf0.1 (5000 docs, 260k shingle rows over 27k distinct
    shingles): the plain posting self-join emitted 1.27M pair rows into a
    1.13M-group count aggregate; the prefix join emits 430k candidate rows
    / 409k distinct pairs and the array verify replaces the pair shuffle:
    warm-cache 1.37 s → 1.01 s, identical 256 output pairs (r12).]

    ``max_doc_freq`` bounds every posting list (array-side cap, see
    :func:`_capped_doc_arrays`); without a cap the candidate join is
    O(Σ prefix-postings²) by design (verification baseline only)."""
    docs, cand = _prefix_candidates(
        _sorted_doc_arrays(df, id_col, text_col, n, max_doc_freq), threshold, False
    )
    return _jaccard_at_least(_verify_pairs(cand, docs, "n"), threshold)


# ---------------------------------------------------------- MinHash+LSH


_MERSENNE_31 = (1 << 31) - 1


def _affine_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal family
    h_i(x) = (a_i·x + b_i) mod (2^31-1): a_i ∈ [1,p), b_i ∈ [0,p).
    Products stay < 2^62 — no long overflow under ANSI mode."""
    consts = []
    s = 0x9E3779B9
    for _ in range(num_hashes):
        s = (s * 1103515245 + 12345) & 0x7FFFFFFF
        a = (s % (_MERSENNE_31 - 1)) + 1
        s = (s * 1103515245 + 12345) & 0x7FFFFFFF
        b = s % _MERSENNE_31
        consts.append((a, b))
    return consts


def minhash_signatures(shingles: DataFrame, num_hashes: int = 64) -> DataFrame:
    """(id, h0..h{n-1}): elementwise min over the doc's shingle set of the
    universal family h_i(x) = (a_i·x + b_i) mod p, then 64 cheap long
    affine transforms (the standard MinHash trick; 64 independent string
    hashes would cost 64× the CPU). One shuffle; signature size constant
    regardless of doc length. Shingles arrive already 64-bit-hashed from
    word_shingles, so the base value is just a fold into [0, p)."""
    p = _MERSENNE_31
    # fold once per row into a column — 64 agg exprs each re-folding
    # would not be CSE'd across aggregates
    hashed = shingles.withColumn("__hb", F.pmod(F.col("shingle"), F.lit(p)))
    # one F.expr per aggregate instead of a ~6-deep Column composition:
    # the Column API costs a py4j round-trip per node, and 64 aggregates
    # built that way were ~0.7 s of driver time PER QUERY BUILD (measured
    # r12, ~2500 of q_dedup_near's 5554 py4j commands). The parsed SQL is
    # the identical expression tree — same literals, same long promotion,
    # same pmod — so signature values are bit-identical.
    aggs = [
        F.expr(f"min(pmod(__hb * {a} + {b}, {p})) AS h{i}")
        for i, (a, b) in enumerate(_affine_constants(num_hashes))
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, then EXACT Jaccard verification
    of candidates only (no false positives; recall governed by (bands,
    rows): P(candidate) = 1-(1-j^r)^b ≈ .9998 at j=0.8 with 16×4).

    Scale path: nothing here is quadratic in corpus size — signatures are
    one shuffle, banding is an equi-join on (band, key), verification
    touches only candidate pairs.

    ``max_bucket_size`` is the banding-side skew guard (the analog of
    ``max_doc_freq`` for the shingle join): band keys are 64-bit hashes,
    so two docs share a bucket only when a whole band of their signatures
    agrees — but a *degenerate* corpus (say 1M byte-identical docs) puts
    all of them in the same bucket in EVERY band, and the candidate join
    explodes quadratically per bucket (10¹² pairs at 1M). Buckets are
    materialized with a single ``groupBy(band, key).collect_list(id)``
    and over-cap buckets are filtered out BEFORE pair explosion — one
    shuffle, no persist, no self-join (an earlier hot-list + broadcast
    anti-join + equi-self-join shape cost an extra aggregate and two
    persists for the same semantics). Aggregation memory per bucket is
    8 bytes x bucket size (a 1M-doc degenerate bucket folds an 8 MB
    array), bounded in practice because ``exact_dedup`` runs first so
    identical docs collapse to one representative and never form such
    buckets. Pairs discoverable ONLY through an over-cap bucket are
    missed by design."""
    # One persisted row per doc (scan-local to build): the signature
    # aggregate explodes off this cache and the verify reads the same
    # arrays, so the corpus is shingled once.
    docs = owned_persist(word_shingle_arrays(df, id_col, text_col, n))
    sh = docs.select("id", F.explode("shingles").alias("shingle"))
    sig = minhash_signatures(sh, num_hashes)
    candidates = lsh_candidate_pairs(sig, num_hashes, bands, max_bucket_size)
    arrays = docs.select(
        "id", F.col("shingles").alias("arr"), F.size("shingles").alias("n")
    )
    return _jaccard_at_least(_verify_pairs(candidates, arrays, "n"), threshold)


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Banding stage of MinHash-LSH: (id, h0..h{n-1}) signatures →
    distinct candidate (id_a, id_b) pairs, id_a < id_b. Split out of
    ``minhash_lsh_pairs`` so the skew guard's candidate-count bound is
    directly measurable (tests/test_properties.py pins it against a
    degenerate corpus)."""
    rows = num_hashes // bands
    # single parsed expression (identical tree to the old per-Column
    # composition, same int-literal band seed): the Column API paid one
    # py4j round-trip per node — ~0.2 s of driver time per build here
    band_keys = F.expr(
        "array("
        + ", ".join(
            f"xxhash64({b}, " + ", ".join(f"h{b * rows + r}" for r in range(rows)) + ")"
            for b in range(bands)
        )
        + ")"
    )
    banded = sig.select(
        F.col("id"), F.posexplode(band_keys).alias("band", "band_key")
    )
    buckets = banded.groupBy("band", "band_key").agg(
        F.collect_list("id").alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


# ------------------------------------------------- cluster formation


def _checkpoint_partitioned(df: DataFrame) -> DataFrame:
    """localCheckpoint that PRESERVES the physical output partitioning.

    Under AQE the checkpoint's LogicalRDD records the AdaptiveSparkPlan's
    partitioning as Unknown (measured r13: a hash(dst)-repartitioned,
    checkpointed edge list still re-exchanged BOTH sides of every CC
    round's join — 2 exchanges/round; with the checkpoint planned under
    AQE-off the leaf keeps hashpartitioning and the round join plans with
    1, or 0 when both sides are pre-partitioned). Only the checkpoint's
    own materialization is planned non-adaptively; every round still
    plans with AQE. The conf flip is restored in a finally."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _label_checksum(labels: DataFrame):
    """Σ rep as decimal — the CC convergence metric — with the numeric-id
    contract ENFORCED: an id whose decimal cast yields NULL silently
    vanishes from the sum (ANSI off), and an all-NULL sum would compare
    None == None and declare convergence after round 1, returning partial
    components (ADVICE r12). One aggregate computes the row count, the
    castable count and the sum; any uncastable id raises instead."""
    # try_cast, not cast: ANSI mode (Spark 4 default) hard-errors the cast
    # mid-aggregate with an opaque CAST_INVALID_INPUT; with ANSI off the
    # plain cast silently NULLs. try_cast yields NULL in BOTH modes, and
    # the count comparison turns it into this typed, actionable error.
    row = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.expr("try_cast(rep AS decimal(38,0))")).alias("n_num"),
        F.sum(F.expr("try_cast(rep AS decimal(38,0))")).alias("s"),
    ).collect()[0]
    if row["n"] != row["n_num"]:
        raise TypeError(
            "connected_components: node ids must cast cleanly to decimal "
            f"for the label-sum convergence check ({row['n'] - row['n_num']} "
            "of them cast to NULL) — use numeric ids, or hash string ids "
            "to BIGINT (xxhash64) before clustering"
        )
    return row["s"]


def connected_components(
    pairs: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """Group near-dup pairs (id_a, id_b) into clusters: returns (id, rep)
    where ``rep`` is the smallest id in the node's connected component —
    the canonical representative for keep-one dedup.

    Algorithm: iterative min-label propagation. Every node starts labeled
    with itself; each round every node takes the min label over itself and
    its neighbors; stop when no label changes. Converges in O(component
    diameter) rounds — near-dup components are overwhelmingly small/dense
    (dup clusters, not long chains), so this is 2-4 rounds in practice.
    Each round is one shuffle (join) + one groupBy; intermediate label
    sets are persisted and the loop's convergence check reuses the next
    round's aggregation (no extra pass). The driver only ever sees a
    one-row count — nothing is collected.

    At 100 TB-scale graphs with adversarially long chains, use
    ``connected_components_star`` below (O(log n) rounds regardless of
    diameter). Raises if the graph hasn't converged in
    ``max_iterations`` — a silently-partial labeling must never escape."""
    # undirected edge list, both directions; eagerly materialized ONCE —
    # the pair pipeline feeding this is typically expensive (LSH / n-gram
    # self-join) and must not re-execute inside the iteration.
    # repartition("dst") BEFORE the checkpoint (r13): every round joins
    # edges ⋈ labels on dst, and a checkpoint preserves its physical
    # partitioning — hash(dst) up front means the big (edge) side is
    # never re-exchanged inside the loop; only the per-round label set
    # shuffles. One extra exchange at build time buys one fewer exchange
    # PER ROUND at any scale.
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = _checkpoint_partitioned(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("dst")
    )
    # localCheckpoint (not persist): truncates lineage so round N's plan
    # doesn't nest rounds 1..N-1 (Catalyst re-analysis goes superlinear
    # on nested iterative plans)
    # labels keep their hash(id) partitioning through the checkpoint too:
    # renamed to dst for the round join, the join then needs NO exchange
    # on either side; only the union+groupBy shuffle remains per round
    labels = _checkpoint_partitioned(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("rep", F.col("id"))
    )
    converged = False
    # Convergence = the label-sum going stable: min-propagation can only
    # DECREASE a node's label (the min is over a set that includes its own
    # previous rep) and the id universe is fixed, so Σ rep strictly
    # decreases iff at least one label changed. One cheap partial-agg scan
    # of the just-checkpointed labels replaces the old per-round
    # join+filter+count (a full extra shuffle of both label sets per
    # round). Decimal sum: ids are arbitrary 64-bit values, a long sum
    # could overflow under ANSI.
    prev_sum = _label_checksum(labels)
    for _ in range(max_iterations):
        # every node pulls its neighbors' current labels, keeps the min of
        # (own label, neighbor labels)
        neighbor_labels = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "rep")
        )
        new_labels = _checkpoint_partitioned(
            labels.unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("rep").alias("rep"))
        )
        cur_sum = _label_checksum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components: no convergence in {max_iterations} rounds "
            "(component diameter exceeds the cap) — use "
            "connected_components_star for long-chain graphs"
        )
    return labels


def _undirected_canon(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b) → canonical (hi, lo) with hi > lo, self-loops dropped."""
    return (
        pairs.select(
            F.greatest("id_a", "id_b").alias("hi"),
            F.least("id_a", "id_b").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For every center v: connect each strictly-larger neighbor to
    min(Γ(v) ∪ {v}). Keeps connectivity, pulls big ids toward minima."""
    adj = edges.select(F.col("hi").alias("v"), F.col("lo").alias("u")).unionByName(
        edges.select(F.col("lo").alias("v"), F.col("hi").alias("u"))
    )
    mins = adj.groupBy("v").agg(F.min("u").alias("mn"))
    j = adj.join(mins, "v").withColumn("m", F.least("mn", F.col("v")))
    return (
        j.filter(F.col("u") > F.col("v"))
        .select(F.col("u").alias("hi"), F.col("m").alias("lo"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For every center v: link all strictly-smaller neighbors (and v
    itself) to their minimum. Flattens chains into stars."""
    adj = edges.select(F.col("hi").alias("v"), F.col("lo").alias("u"))
    mins = adj.groupBy("v").agg(F.min("u").alias("m"))
    j = adj.join(mins, "v")
    p1 = j.filter(F.col("u") != F.col("m")).select(
        F.col("u").alias("hi"), F.col("m").alias("lo")
    )
    p2 = mins.select(F.col("v").alias("hi"), F.col("m").alias("lo"))
    return p1.unionByName(p2).distinct()


def connected_components_star(pairs: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    converges in O(log n) rounds INDEPENDENT of component diameter, so a
    10^6-node chain costs ~20 rounds where label propagation needs 10^6.
    Same output contract as ``connected_components``: (id, rep) with rep
    = the component's minimum id. Convergence detected by an edge-set
    checksum (count + hash-sum) going stable — one tiny agg per round."""
    # localCheckpoint each round: persist() alone leaves the logical plan
    # nested round-over-round and Catalyst re-analysis goes superlinear
    # after ~8 iterations (the classic iterative-DataFrame pitfall);
    # checkpointing truncates lineage to the materialized result.
    E = _undirected_canon(pairs).localCheckpoint(eager=True)
    prev_chk = None
    converged = False
    for _ in range(max_rounds):
        E = _small_star(_large_star(E)).localCheckpoint(eager=True)
        chk = tuple(
            E.agg(
                F.count(F.lit(1)),
                # decimal sum: 64-bit hash values overflow a long sum (ANSI)
                F.sum(F.xxhash64(F.col("hi"), F.col("lo")).cast("decimal(38,0)")),
            ).collect()[0]
        )
        if chk == prev_chk:
            converged = True
            break
        prev_chk = chk
    if not converged:
        raise RuntimeError(f"star CC: no convergence in {max_rounds} rounds")
    # at convergence E is a star per component: every non-root points at
    # the root; roots appear only on the lo side
    labels = E.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("rep"))
    roots = (
        E.select(F.col("lo").alias("id"))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("rep", F.col("id"))
    )
    return labels.unionByName(roots)


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Keep-one-per-cluster dedup: drop every row whose id belongs to a
    near-dup component but is not its minimum-id representative. Rows in
    no pair survive untouched (they are their own component)."""
    # drop set scales with the duplicate count (can be huge) — shuffle
    # anti-join, not broadcast
    drop = connected_components(pairs).filter(F.col("id") != F.col("rep")).select("id")
    return df.join(drop, df[id_col] == drop["id"], "left_anti")


# -------------------------------------------------------------- SimHash


def simhash_bands(
    df: DataFrame, id_col: str, text_col: str, bands: int = 4
) -> DataFrame:
    """64-bit SimHash as 4×16-bit band columns (id, b0..b3).

    Bit i of the fingerprint is the sign of Σ_tokens (±1 by bit i of
    xxhash64(token)). Stored banded so (a) candidate generation is an
    equi-join on any identical band, (b) hamming distance is
    Σ bit_count(xor(band_a, band_b)) without a 64-bit assemble."""
    assert bands == 4, "fixed 4×16 layout"
    from etl_open_source_spark.operators.text import ascii_fold

    words = F.split(ascii_fold(text_col), " ")
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(words)).alias("tok")
    )
    # parsed-expression construction (same trees as the old per-Column
    # composition): 64 sum aggs + 4×16 band folds built via the Column API
    # cost a py4j round-trip per node — ~1000 driver round-trips per build
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(xxhash64(tok), {i}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS s{i}"
        )
        for i in range(64)
    ]
    sums = toks.groupBy("id").agg(*bit_sums)
    band_cols = [
        F.expr(
            "CAST(("
            + " + ".join(
                f"CASE WHEN s{b * 16 + j} > 0 THEN {1 << j} ELSE 0 END"
                for j in range(16)
            )
            + f") AS BIGINT) AS b{b}"
        )
        for b in range(4)
    ]
    return sums.select("id", *band_cols)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming. Candidates must
    share at least one exact 16-bit band (pigeonhole: guarantees recall for
    distance <= 3; probabilistic above)."""
    sig = simhash_bands(df, id_col, text_col)
    banded = sig.select(
        "id", F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "key")
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(*[F.col(c).alias(f"{c}_a") for c in sig.columns])
    sb = sig.select(*[F.col(c).alias(f"{c}_b") for c in sig.columns])
    hamming = sum(
        F.bit_count(F.col(f"b{i}_a").bitwiseXOR(F.col(f"b{i}_b"))) for i in range(4)
    )
    return (
        cand.join(sa, cand.id_a == sa.id_a)
        .join(sb, cand.id_b == sb.id_b)
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(cand.id_a, cand.id_b, "hamming")
    )


# ------------------------------------------------ n-gram containment


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed partial-duplicate pairs by n-gram CONTAINMENT:
    C(src→dst) = |shingles(src) ∩ shingles(dst)| / |shingles(src)| —
    the asymmetric cousin of Jaccard resemblance. A short document quoted
    wholesale inside a long one scores C ≈ 1 while its Jaccard stays near
    |src|/|dst| ≈ 0, so resemblance dedup never sees it; containment is
    the quote/boilerplate/subset detector (Broder's original distinction).

    Smaller-prefix ⋈ larger-full candidates at f = threshold, then the
    array verify (see :func:`_prefix_candidates`); both directed rows
    divide the one intersection by their own source size.
    ``max_doc_freq`` caps posting lists exactly as in the Jaccard path."""
    docs, cand = _prefix_candidates(
        _sorted_doc_arrays(df, id_col, text_col, n, max_doc_freq), threshold, True
    )
    inter = _verify_pairs(cand, docs, "n")
    directed = inter.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "inter",
        F.col("n_a").alias("n"),
    ).unionAll(
        inter.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "inter",
            F.col("n_b").alias("n"),
        )
    )
    return (
        directed.withColumn("containment", F.col("inter") / F.col("n"))
        .filter(F.col("containment") >= threshold)
        .select("src", "dst", "containment")
    )
