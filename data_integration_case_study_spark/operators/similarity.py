"""Similarity search over embedding columns (SURVEY.md §2.9).

Baseline: exhaustive cosine top-k in the explode + decimal-aggregate shape
(whole-stage codegen, order-independent accumulation — oracle-checkable
bit-for-bit). Scale paths: random-hyperplane LSH bucketing that prunes the
candidate set before an exact re-rank (at 1B+ vectors the bucket join
replaces the full cross score, same as MinHash replaces all-pairs
Jaccard), and IVF cells / PQ codes, alone or composed.

Every operator forms its candidates, verifies them and cuts its top k with
the shared stages of operators/dedup.py (``_self_pairs``,
``_successor_pairs``, ``_attach``, ``_top_k``), and every cosine is divided
once, in :func:`_cosine`. A zero vector has no direction: its cosine is
null and dropped there, so it is nobody's neighbour and has none itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_integration_case_study_spark.functions.vector import (
    adaptive_n_planes,
    random_hyperplane_signature,
)
from data_integration_case_study_spark.operators.dedup import (
    _attach,
    _self_pairs,
    _successor_pairs,
    _top_k,
    blocked_rank,
)
from data_integration_case_study_spark.operators.iterate import lineage_truncator

# Exact cross-engine accumulation: products are snapped to a 2^-40 binary
# grid with floor(x*2^40 + 0.5) — deterministic round-half-up in every
# engine — giving INTEGRAL doubles below 2^53 (Spark's double→decimal cast
# goes through Java's shortest-string repr and diverges from the exact
# binary value above that), summed exactly as DECIMAL(38,0).
_GRID = float(1 << 40)

# Corpus size up to which topk scores exhaustively: below it exact recall
# costs less than the LSH setup.
_BRUTE_FORCE_LIMIT = 100_000


def _exact_sum_of_products(x, y):
    snapped = F.floor(x * y * F.lit(_GRID) + F.lit(0.5)).cast("decimal(38,0)")
    return F.sum(snapped).cast("double") / F.lit(_GRID)


def _exact_dot_cols(x: Column, y: Column) -> Column:
    """Array-native twin of :func:`_exact_sum_of_products`: the exact
    grid-snapped dot product of two array columns as a single O(d)
    zip_with + aggregate fold — identical values (each product snaps to
    the same 2^-40 grid and integers add exactly, so fold order is
    irrelevant), but evaluated per PAIR ROW instead of per exploded
    component row. Scoring a candidate pair this way shuffles 1 row of
    2 vectors instead of d rows, and needs no groupBy at all — the
    shuffle-volume difference is a factor of d on the pair join and the
    whole reason the LSH family uses this form in its hot path."""
    prods = F.zip_with(
        x,
        y,
        lambda a, b: F.floor(
            a.cast("double") * b.cast("double") * F.lit(_GRID) + F.lit(0.5)
        ).cast("decimal(38,0)"),
    )
    total = F.aggregate(
        prods, F.lit(0).cast("decimal(38,0)"), lambda acc, v: acc + v
    )
    return total.cast("double") / F.lit(_GRID)


def _exact_norm_col(v: Column) -> Column:
    """Map-only L2 norm of an array column on the exact grid — the
    array-native twin of :func:`_norms` (no explode, no groupBy)."""
    return F.sqrt(_exact_dot_cols(v, v))


def _cosine(pairs: DataFrame, dot: Column, norm_a: str, norm_b: str) -> DataFrame:
    """``cosine`` = dot / (norm_a · norm_b), the one cosine division of
    this module. ``try_divide`` turns a zero norm into a null score
    instead of an ANSI ``DIVIDE_BY_ZERO``, and null scores are dropped
    here, before any threshold or top-k."""
    cos = F.try_divide(dot, F.col(norm_a) * F.col(norm_b))
    return pairs.withColumn("cosine", cos).filter(F.col("cosine").isNotNull())


def _pair_cosine(pairs: DataFrame) -> DataFrame:
    """:func:`_cosine` of pairs carrying both vectors and norms
    (``v_a``/``v_b``, ``nrm_a``/``nrm_b``), the dot folded per pair row."""
    return _cosine(
        pairs, _exact_dot_cols(F.col("v_a"), F.col("v_b")), "nrm_a", "nrm_b"
    )


def _exploded(
    df: DataFrame, id_col: str, vec_col: str,
    id_out: str = "id", val_out: str = "val",
) -> DataFrame:
    """(id_out, pos, val_out as double) rows from an array column."""
    return df.select(
        F.col(id_col).alias(id_out),
        F.posexplode(F.col(vec_col)).alias("pos", val_out),
    ).withColumn(val_out, F.col(val_out).cast("double"))


def _fixed_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from the first row (None on an empty frame) — the
    cheap probe that unlocks the literal-hyperplane signature path
    (functions/vector._plane_dot: hyperplanes precomputed driver-side,
    no per-row sha256). Embedding corpora are fixed-width by contract;
    a row with a different width fails loudly in the signature guard."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else row["d"]


def _count_and_dim(df: DataFrame, vec_col: str) -> tuple[int, int | None]:
    """Corpus row count AND vector width in ONE action (one aggregation
    job instead of the count + first pair — on a large un-cached source
    each of those is a full scan queued before the real query runs)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("d"),
    ).first()
    return (row["n"], row["d"]) if row["n"] else (0, None)


def _norms(
    df: DataFrame, id_col: str, vec_col: str, id_out: str, out: str
) -> DataFrame:
    """(id_out, out): per-vector L2 norm via exact decimal sum of squares."""
    return (
        _exploded(df, id_col, vec_col, id_out)
        .groupBy(id_out)
        .agg(F.sqrt(_exact_sum_of_products(F.col("val"), F.col("val"))).alias(out))
    )


def _ranked_cosines(scored: DataFrame, k: int) -> DataFrame:
    """The top-k cut of (q_id, c_id, cosine) rows per query."""
    return _top_k(scored, "q_id", [F.col("cosine").desc(), "c_id"], k).select(
        "q_id", "c_id", "cosine", "rank"
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    Dataflow: posexplode both sides → equi-join on position (the query
    side is tiny → broadcast) → one hash-agg computing the exact decimal
    dot per (query, candidate) → join norms → per-query top-k window.
    Everything codegen'd; the only shuffles are the dot-product agg and
    the k-row-per-query window.
    """
    qe = _exploded(queries, id_col, vec_col, "q_id", "q_val")
    ce = _exploded(corpus, id_col, vec_col, "c_id", "c_val")
    dots = (
        ce.join(F.broadcast(qe), "pos")
        .groupBy("q_id", "c_id")
        .agg(_exact_sum_of_products(F.col("q_val"), F.col("c_val")).alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(_norms(queries, id_col, vec_col, "q_id", "q_norm")), "q_id")
        .join(_norms(corpus, id_col, vec_col, "c_id", "c_norm"), "c_id")
        .filter(F.col("q_id") != F.col("c_id"))
    )
    return _ranked_cosines(_cosine(scored, F.col("dot"), "q_norm", "c_norm"), k)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets prune candidates, then
    exact cosine re-ranks within the matching bucket(s).

    With b planes the corpus splits into 2^b buckets; a query scores its
    own bucket (~N/2^b candidates). ``probe_bits`` > 0 turns on
    multi-probe: the query ALSO searches the buckets whose signature
    differs in one of the first ``probe_bits`` bits — the classic recall
    lever (a near neighbor on the wrong side of one hyperplane is found
    in the 1-bit-flip bucket) that multiplies candidates by probe_bits+1
    instead of forcing fewer planes / bigger buckets. Scale: signatures
    are map-only; probing explodes only the tiny query side; the bucket
    join stays an equi-join. sha256-derived signatures plus the exact
    decimal re-rank keep every variant oracle-checkable."""
    sig = random_hyperplane_signature(
        F.col(vec_col), n_planes, seed, dim=_fixed_dim(corpus, vec_col)
    )
    # The corpus side stays put (bucket + vector + map-only norm); the
    # tiny query side carries its vector through the probe explosion and
    # broadcasts, so the whole operator is ONE broadcast-hash join with
    # the exact O(d) dot folded per candidate row (_exact_dot_cols) —
    # no exploded per-component join, no norm shuffle.
    c_sig = corpus.select(
        F.col(id_col).alias("c_id"),
        sig.alias("bucket"),
        F.col(vec_col).alias("cv"),
        _exact_norm_col(F.col(vec_col)).alias("c_norm"),
    )
    q_base = queries.select(
        F.col(id_col).alias("q_id"),
        sig.alias("__sig"),
        F.col(vec_col).alias("qv"),
        _exact_norm_col(F.col(vec_col)).alias("q_norm"),
    )
    masks = [0] + [1 << i for i in range(min(probe_bits, n_planes))]
    q_sig = q_base.select(
        "q_id", "qv", "q_norm",
        F.explode(
            F.array(*[F.col("__sig").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    scored = c_sig.join(F.broadcast(q_sig), "bucket").filter(
        F.col("q_id") != F.col("c_id")
    )
    dot = _exact_dot_cols(F.col("qv"), F.col("cv"))
    return _ranked_cosines(_cosine(scored, dot, "q_norm", "c_norm"), k)


def topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """The similarity-join STRATEGY (SURVEY §4's candidate custom work):
    dispatch brute-force vs LSH from the corpus size.

    Counts the corpus once (a metadata-cheap count on parquet sources)
    and scores exhaustively up to ``_BRUTE_FORCE_LIMIT`` rows — where
    exact recall costs less than the LSH setup — and with the 4-bit
    multi-probe hyperplane path above it, where O(N·Q·d) scoring stops
    being a job anyone waits for; that path's plane count comes from the
    same count (:func:`functions.vector.adaptive_n_planes`). This is a
    library-level rewrite, deliberately NOT a Catalyst rule: the
    decision needs a cardinality the optimizer already exposes, and a
    function keeps the choice testable."""
    n = corpus.count()
    if n <= _BRUTE_FORCE_LIMIT:
        return cosine_topk_bruteforce(corpus, queries, id_col, vec_col, k)
    return ann_lsh_topk(
        corpus, queries, id_col, vec_col, k,
        n_planes=adaptive_n_planes(n), probe_bits=4,
    )


def _assign_cells(
    exploded: DataFrame, cent_exploded: DataFrame, id_col: str, top_cells: int
) -> DataFrame:
    """(id_col, cell): each vector's ``top_cells`` best cells by
    dot / centroid norm (the vector's own norm is constant within its
    argmax, so it cancels). ``exploded`` is (id_col, pos, val),
    ``cent_exploded`` (cell, pos, c_val). A zero centroid has no
    direction and is nobody's cell."""
    cell_norms = cent_exploded.groupBy("cell").agg(
        F.sqrt(_exact_sum_of_products(F.col("c_val"), F.col("c_val"))).alias("cell_norm")
    )
    scored = (
        exploded.join(F.broadcast(cent_exploded), "pos")
        .groupBy(id_col, "cell")
        .agg(_exact_sum_of_products(F.col("val"), F.col("c_val")).alias("dot"))
        .join(F.broadcast(cell_norms), "cell")
        .withColumn("score", F.try_divide(F.col("dot"), F.col("cell_norm")))
        .filter(F.col("score").isNotNull())
    )
    return _top_k(
        scored, id_col, [F.col("score").desc(), "cell"], top_cells
    ).select(id_col, "cell")


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the training step that
    upgrades :func:`ivf_topk`'s seed cells to trained cells.

    Deterministic by construction, so a fixed-iteration unrolled SQL
    oracle reproduces it bit-for-bit: init = the k lowest-id vectors
    (seeded, no RNG); assignment = cosine argmax (the vector's own norm
    cancels inside its argmax, so score = dot / centroid_norm on the
    2^-40 exact grid); update = per-dimension decimal-exact mean (float32
    inputs scaled by 2^48 are integral doubles, so the decimal cast is
    exact in every engine; the raw vectors — not prior-round centroids —
    feed every mean). Assignment ties break to the lowest cell id; a cell
    that loses every member drops out (k shrinks) — both rules
    deterministic in any engine.

    Each round is one broadcast join + two aggs over the exploded corpus;
    per-round lineage is truncated like ``graph.connected_components``
    (reliable ``checkpoint`` when ``checkpoint_dir`` is given,
    executor-local ``localCheckpoint`` otherwise — see
    ``operators.iterate`` for the global-state caveat). Returns trained
    centroids in long form (cell, pos, val, members)."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    trunc = lineage_truncator(df.sparkSession, checkpoint_dir)
    e = _exploded(df, id_col, vec_col)
    cents = e.filter(F.col("id") < k).select(
        F.col("id").alias("cell"), "pos", F.col("val").alias("c_val")
    )
    scale = float(1 << 48)
    assign = None
    for _ in range(n_iter):
        assign = _assign_cells(e, cents, "id", 1)
        cents = trunc(
            e.join(assign, "id")
            .groupBy("cell", "pos")
            .agg(
                (
                    (
                        F.sum((F.col("val") * F.lit(scale)).cast("decimal(38,0)")).cast("double")
                        / F.lit(scale)
                    )
                    / F.count("val")
                ).alias("c_val")
            )
        )
    members = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("members"))
    return cents.join(members, "cell").select(
        "cell", "pos", F.col("c_val").alias("val"), "members"
    )




def _ivf_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    nprobe: int,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The IVF pruning stage: (q_id, c_id) for every corpus vector in one
    of the query's ``nprobe`` nearest cells (self-matches excluded).
    Corpus vectors sit in their single nearest cell. Cells come from
    ``centroids`` (long form: cell, pos and c_val or val) or, when None,
    from the ``n_cells`` lowest-id corpus vectors. Centroids are tiny and
    broadcast; each assignment is a map-side join + one agg."""
    if centroids is None:
        ce = _exploded(
            corpus.filter(F.col(id_col) < n_cells), id_col, vec_col, "cell", "c_val"
        )
    else:
        vcol = "c_val" if "c_val" in centroids.columns else "val"
        ce = centroids.select(
            "cell", "pos", F.col(vcol).cast("double").alias("c_val")
        )
    corp_cells = _assign_cells(_exploded(corpus, id_col, vec_col, "c_id"), ce, "c_id", 1)
    qry_cells = _assign_cells(
        _exploded(queries, id_col, vec_col, "q_id"), ce, "q_id", nprobe
    )
    return (
        qry_cells.join(corp_cells, "cell")
        .select("q_id", "c_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .distinct()
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into cells around centroids,
    assign each vector to its nearest cell, and answer queries by exact
    search within their ``nprobe`` nearest cells.

    ``centroids``: long-form trained centroids — (cell, pos, val[, ...])
    exactly as :func:`kmeans_centroids` returns them, or (cell, pos,
    c_val); extra columns are ignored. When None, the ``n_cells``
    lowest-id corpus vectors seed the cells (the reproducible oracle
    twin of the trained path).

    Scale shape: centroids are broadcast (tiny); assignment is a map-side
    join + one agg; the search join hits ~nprobe/n_cells of the corpus.
    Fully deterministic → oracle-checkable end to end, unlike the
    hash-based LSH path."""
    cand = _ivf_candidates(
        corpus, queries, id_col, vec_col, n_cells, nprobe, centroids
    )
    dots = (
        cand.join(_exploded(queries, id_col, vec_col, "q_id", "q_val"), "q_id")
        .join(_exploded(corpus, id_col, vec_col, "c_id", "c_val"), ["c_id", "pos"])
        .groupBy("q_id", "c_id")
        .agg(_exact_sum_of_products(F.col("q_val"), F.col("c_val")).alias("dot"))
    )
    scored = dots.join(
        _norms(queries, id_col, vec_col, "q_id", "q_norm"), "q_id"
    ).join(_norms(corpus, id_col, vec_col, "c_id", "c_norm"), "c_id")
    return _ranked_cosines(_cosine(scored, F.col("dot"), "q_norm", "c_norm"), k)


def _pq_exploded(df: DataFrame, id_col: str, vec_col: str, sub_dim: int,
                 out_id: str) -> DataFrame:
    """(out_id, pos, val, s): exploded components with their subspace."""
    return _exploded(df, id_col, vec_col, out_id).withColumn(
        "s", F.floor(F.col("pos") / sub_dim)
    )


def _pq_encode(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    sub_dim: int,
    n_codes: int,
    codebooks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The PQ stage: ``(codes, table)``. ``codes`` (c_id, s, j) holds each
    corpus vector's L2-argmin codeword per subspace (grid-exact distances,
    ties to the lowest id); ``table`` (q_id, s, j, pdot) is each query's
    ADC lookup table, its exact dot with every codeword per subspace.
    Codewords come from ``codebooks`` (j, pos, c_val) or, when None, from
    the ``n_codes`` lowest-id corpus vectors."""
    e = _pq_exploded(corpus, id_col, vec_col, sub_dim, "id")
    if codebooks is not None:
        cb = codebooks.select(
            "j", "pos", F.col("c_val").cast("double").alias("c_val")
        )
    else:
        cb = e.filter(F.col("id") < n_codes).select(
            F.col("id").alias("j"), "pos", F.col("val").alias("c_val")
        )
    dist2 = F.floor(
        (F.col("val") - F.col("c_val")) * (F.col("val") - F.col("c_val"))
        * F.lit(_GRID) + F.lit(0.5)
    ).cast("decimal(38,0)")
    enc = (
        e.join(F.broadcast(cb), "pos")
        .groupBy("id", "s", "j")
        .agg((F.sum(dist2).cast("double") / F.lit(_GRID)).alias("dist"))
    )
    codes = _top_k(enc, ["id", "s"], ["dist", "j"], 1).select(
        F.col("id").alias("c_id"), "s", "j"
    )
    table = (
        _pq_exploded(queries, id_col, vec_col, sub_dim, "q_id")
        .join(F.broadcast(cb), "pos")
        .groupBy("q_id", "s", "j")
        .agg(_exact_sum_of_products(F.col("val"), F.col("c_val")).alias("pdot"))
    )
    return codes, table


def _adc_topk(lookups: DataFrame, k: int) -> DataFrame:
    """Sum each (q_id, c_id)'s table lookups into ``approx_dot`` and cut
    the top k per query. pdot is an exact multiple of 2^-40, so
    pdot * 2^40 is an integral double and the decimal re-sum keeps the
    m-term ADC total exact too."""
    adc = (
        F.sum((F.col("pdot") * F.lit(_GRID)).cast("decimal(38,0)")).cast("double")
        / F.lit(_GRID)
    )
    scored = lookups.groupBy("q_id", "c_id").agg(adc.alias("approx_dot"))
    return _top_k(scored, "q_id", [F.col("approx_dot").desc(), "c_id"], k).select(
        "q_id", "c_id", "approx_dot", "rank"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sub_dim: int = 8,
    n_codes: int = 8,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN (asymmetric distance computation) — the
    memory-bound 100 TB complement to :func:`ivf_topk`'s compute pruning.

    The vector space is split into ``d / sub_dim`` subspaces; each
    subspace gets a codebook of ``n_codes`` codewords and every corpus
    vector is encoded as one codeword id per subspace (argmin L2, ties to
    the lowest codeword id). A query never touches the corpus vectors:
    it computes a per-subspace dot-product table against the codebooks
    (m × n_codes entries) and scores every candidate as the sum of table
    lookups over its code — at a billion vectors the corpus state the
    search reads is the code matrix (m bytes/vector), not the raw floats.

    ``codebooks``: long-form (j, pos, c_val) codeword components — pass a
    trained table (e.g. per-subspace k-means means relabeled to codeword
    ids) to upgrade the quantizer, exactly as ``ivf_topk(centroids=...)``
    upgrades the cells. When None, codewords are seeded from the
    ``n_codes`` lowest-id corpus vectors — deterministic, the same
    oracle-twin convention as :func:`ivf_topk`'s seed centroids. All
    arithmetic on the 2^-40 exact grid, so encoding, tables, and ADC
    scores reproduce bit-for-bit in any engine. Returns
    (q_id, c_id, approx_dot, rank).

    Scale shape: codebooks are tiny and broadcast everywhere; encoding is
    one broadcast join + agg over the exploded corpus (map-side);
    scoring joins the m-row-per-vector code table against the
    m × n_codes query table — no raw-vector shuffle anywhere."""
    codes, table = _pq_encode(
        corpus, queries, id_col, vec_col, sub_dim, n_codes, codebooks
    )
    lookups = codes.join(F.broadcast(table), ["s", "j"]).filter(
        F.col("q_id") != F.col("c_id")
    )
    return _adc_topk(lookups, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    sub_dim: int = 8,
    n_codes: int = 8,
) -> DataFrame:
    """IVF × PQ — the production composition: IVF cells prune COMPUTE
    (queries only score candidates from their ``nprobe`` nearest cells),
    PQ codes prune MEMORY (candidates are scored by ADC table lookups
    over their code matrix, never their raw floats). At a billion
    vectors this is the standard serving shape (an IVF-PQ index): the
    search touches ~nprobe/n_cells of the corpus, and what it touches
    is bytes per vector.

    Literally the two stages composed — :func:`_ivf_candidates` then
    :func:`_pq_encode` — with the same deterministic seeds (lowest-id
    vectors for cells and codebooks) and grid-exact arithmetic, so the
    composition is oracle-checkable end to end like each part alone.
    Returns (q_id, c_id, approx_dot, rank) with ADC-approximate scores."""
    cand = _ivf_candidates(corpus, queries, id_col, vec_col, n_cells, nprobe)
    codes, table = _pq_encode(corpus, queries, id_col, vec_col, sub_dim, n_codes)
    lookups = cand.join(codes, "c_id").join(
        F.broadcast(table), ["q_id", "s", "j"]
    )
    return _adc_topk(lookups, k)


def _neardups(pairs: DataFrame, threshold: float) -> DataFrame:
    """Vector pairs at cosine >= ``threshold``, as (id_a, id_b, block,
    cosine)."""
    return (
        _pair_cosine(pairs)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "block", "cosine")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
    block_window: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key — the
    fifth dedup strategy (SURVEY §2.9). Attribute blocking is the
    oracle-friendly TEACHING form: a block grows linearly with the
    corpus, so at scale use :func:`embedding_neardup_pairs_lsh`, whose
    hyperplane buckets keep block size ~N/2^b regardless of N.

    Each candidate pair scores its dot in a single O(d) fold
    (:func:`_exact_dot_cols`), so the pair join shuffles 1 row of 2
    vectors instead of d component rows. ``block_window=W`` bounds a
    linearly-growing block (the exhaustive in-block join timed out at
    sf1): each vector is compared only with its W id-ordered successors
    inside its block (:func:`dedup._successor_pairs`), ranked by
    :func:`dedup.blocked_rank` — bounded-cardinality blocks must not
    become one whole-block window sort — and the vectors join in after
    the candidate join. ``None`` keeps the exhaustive in-block
    semantics."""
    from data_integration_case_study_spark.operators import cache

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        _exact_norm_col(F.col(vec_col)).alias("nrm"),
    )
    if block_window is None:
        return _neardups(_self_pairs(base, "block", ["v", "nrm"]), threshold)
    # base feeds both verify sides and the rank
    base = cache.track(base)
    ranked = blocked_rank(base.select("id", "block"), "block", "id")
    pairs = _successor_pairs(ranked, "block", block_window)
    return _neardups(_attach(pairs, base, ["v", "nrm"]), threshold)


def _lsh_base(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int | None,
    seed: int, target_bucket_size: int,
) -> DataFrame:
    """(id, block, v, nrm) with ``block`` the random-hyperplane bucket:
    the base the LSH pair operators join to itself. ``n_planes=None``
    derives the plane count from the corpus size
    (:func:`functions.vector.adaptive_n_planes`, one count) so the
    expected bucket population stays at ``target_bucket_size`` as the
    corpus grows — a fixed plane count would make the pair join
    quadratic in N. Persisted through the tracked cache (it feeds both
    pair sides; unpersisted, Spark recomputes the signatures per read;
    release with ``operators.cache.release_tracked()``)."""
    from data_integration_case_study_spark.operators import cache

    if n_planes is None:
        n, dim = _count_and_dim(df, vec_col)
        n_planes = adaptive_n_planes(n, target_bucket_size)
    else:
        dim = _fixed_dim(df, vec_col)
    sig = random_hyperplane_signature(F.col(vec_col), n_planes, seed, dim=dim)
    return cache.track(
        df.select(
            F.col(id_col).alias("id"),
            sig.alias("block"),
            F.col(vec_col).alias("v"),
            _exact_norm_col(F.col(vec_col)).alias("nrm"),
        )
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    seed: int = 42,
    target_bucket_size: int = 16,
) -> DataFrame:
    """Embedding near-dup pairs blocked by the random-hyperplane LSH
    bucket — the 100 TB form of :func:`embedding_neardup_pairs`.

    The bucket replaces the data attribute as the blocking key, so block
    size is ~N/2^n_planes by construction (see :func:`_lsh_base` for the
    plane count), not corpus-linear. Cost: high-cosine pairs land in the
    same bucket with probability (1 - θ/π)^n_planes (θ = angle), so a
    single-probe blocking trades a small recall loss for the bounded
    join — exactly the LSH contract. Whole vectors and norms ride
    through the one bucket-keyed self-join and each pair's dot is one
    O(d) fold, so the operator has one exchange on the bucket key.
    Same exact decimal scoring; sha256-derived buckets keep it
    oracle-checkable. Output block = the shared bucket id."""
    base = _lsh_base(df, id_col, vec_col, n_planes, seed, target_bucket_size)
    return _neardups(_self_pairs(base, "block", ["v", "nrm"]), threshold)


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int | None = None,
    seed: int = 42,
    target_bucket_size: int = 32,
) -> DataFrame:
    """Approximate k-NN GRAPH: every vector's top-k neighbors within its
    LSH bucket — the all-sources form of :func:`ann_lsh_topk` (which
    serves a small query set) and the substrate for graph-based corpus
    work: semantic clustering (connected components over the edges),
    diversity sampling, and kNN-density outlier pruning.

    Scale shape: signatures are map-only; the bucket-local pair join is
    Σ|bucket|² with |bucket| ~ N/2^n_planes by construction (see
    :func:`_lsh_base`). The top-k cut is a per-source window over
    bucket-local candidates only. Vectors whose bucket holds no
    neighbor emit no edges — the documented recall trade; multi-probe or
    fewer planes raise recall exactly as in :func:`ann_lsh_topk`.

    Computes each unordered pair's exact decimal cosine ONCE, in the one
    bucket-keyed self-join, then mirrors the edge list before ranking
    (graph edges are directed: a→b and b→a rank independently in their
    source's top-k). The input is spread to the cluster parallelism
    BEFORE the signature map (a small parquet scans as 1-2 partitions,
    and the sha256-derived signature is the CPU-heavy step)."""
    from data_integration_case_study_spark.sources.readers import (
        spread_to_parallelism,
    )

    base = _lsh_base(
        spread_to_parallelism(df), id_col, vec_col, n_planes, seed,
        target_bucket_size,
    )
    scored = _pair_cosine(_self_pairs(base, "block", ["v", "nrm"]))
    edges = scored.select(
        F.col("id_a").alias("src_id"), F.col("id_b").alias("nbr_id"), "cosine"
    ).unionByName(
        scored.select(
            F.col("id_b").alias("src_id"), F.col("id_a").alias("nbr_id"), "cosine"
        )
    )
    return _top_k(
        edges, "src_id", [F.col("cosine").desc(), "nbr_id"], k
    ).select("src_id", "nbr_id", "cosine", "rank")
