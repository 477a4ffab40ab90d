"""Similarity search over embedding columns: brute-force cosine top-k
(the exactness baseline) and an LSH-bucketed approximate variant (the
scale path).

The brute-force form broadcasts the query set and computes explicit
left-associated dot-product chains (xdialect) — JVM codegen, no UDFs,
oracle-reproducible. The LSH variant buckets vectors by random-
hyperplane sign bits (hyperplanes derived deterministically from md5,
so results are stable across runs and engines); at 1000-executor scale
the bucket join replaces the O(N·Q) cross product with per-bucket work,
trading recall for a ~2^planes fan-in reduction (multi-probe: compare
against query buckets at Hamming distance <= 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dagster_etl_spark.functions import xdialect as x
from dagster_etl_spark.plans.layout import spread
from dagster_etl_spark.streaming.slicestore import SlicedIndex, slice_file_budget


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-matches excluded).

    Returns (query_id, neighbor_id, cosine, rank) with a deterministic
    (cosine desc, neighbor_id) tiebreak.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    cos = x.cosine("qv", "cv", dim, x.SPARK)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def filtered_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str = "label",
) -> DataFrame:
    """FILTERED vector search — top-k among corpus vectors sharing the
    query's ``filter_col`` value (the metadata-predicate ANN every
    retrieval stack needs: "nearest neighbors WITH lang='en' / same
    category / same tenant").

    Spark-first shape: the filter is the JOIN KEY, not a post-score
    predicate — the broadcast hash join on ``filter_col`` replaces
    cosine_topk's crossJoin, so only same-group pairs are ever scored
    (pre-filtering, the strategy vector stores call "filtered search
    done right"; post-filtering a global top-k under-fills k when the
    predicate is selective). With G distinct groups the scored-pair
    count drops ~G-fold vs the unfiltered scan; the corpus side
    additionally prunes rows whose group has no query at all via the
    same broadcast join. The corpus never shuffles — the only
    exchange is the per-query top-k window.

    Returns (query_id, neighbor_id, cosine, rank), rank <= k, with
    the deterministic (cosine desc, neighbor_id) tiebreak.

    Boundedness contract (r13 ADVICE): ``queries`` is UNCONDITIONALLY
    broadcast — same assumption as every bounded collect in this
    module (nlist centroids, m*ksub codebooks): the query set is a
    batch of user probes, orders of magnitude smaller than the corpus
    and well under the broadcast limit. For a query set that can grow
    with the corpus (e.g. all-pairs within a table), use
    :func:`embedding-bucketed near-dup <dagster_etl_spark.operators.
    dedup.embedding_neardup>` instead — a shuffled equi-join on the
    group key, no broadcast.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(filter_col).alias("_grp"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(filter_col).alias("_grp"),
    )
    cos = x.cosine("qv", "cv", dim, x.SPARK)
    scored = (
        c.join(F.broadcast(q), on="_grp")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible
    everywhere, no RNG state."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"plane:{plane}:{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0xFFFFFFFF) - 0.5)
    return vals


def lsh_bucket_expr(
    vec_col: str, dim: int, planes: int, table: int = 0, d: str = x.SPARK
) -> str:
    """Sign-bit bucket id for one hash table: bit p set iff
    dot(vec, plane_{table,p}) > 0; the table index is mixed into the
    bucket so keys from different tables never collide.

    Emitted for either dialect: Spark uses the fold form (O(1) codegen
    tree); DuckDB gets the explicit left-associated chain — the same
    IEEE sequence (``0.0 + t0 == t0``), so the sign test and therefore
    the candidate set are engine-identical (this is what makes the
    DuckDB oracle for ``lsh_ann_topk`` exact, not approximate)."""
    parts = [f"{table * (1 << planes)}"]
    for p in range(planes):
        hp = _hyperplane(table * planes + p, dim)
        if d == x.SPARK:
            # {v!r}D — Spark's typed double literal: bit-identical to
            # CAST({v!r} AS DOUBLE) (probed r19) at ~40% of the string,
            # so the plane-literal parse is off the build path's floor
            arr = "array(" + ", ".join(f"{v!r}D" for v in hp) + ")"
            # fold form keeps the expression tree O(1) deep per plane so
            # the 32-plane bucket array stays inside whole-stage codegen
            dot = (
                f"aggregate(zip_with({vec_col}, {arr}, (e, w) -> "
                f"CAST(e AS DOUBLE) * w), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            )
        else:
            dot = "(" + " + ".join(
                f"CAST({vec_col}[{i + 1}] AS DOUBLE) * CAST({w!r} AS DOUBLE)"
                for i, w in enumerate(hp)
            ) + ")"
        parts.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def ivf_index(
    corpus: DataFrame,
    dim: int = 64,
    nlist: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: distributed KMeans (Spark ML) assigns every
    corpus vector to one of ``nlist`` centroid buckets. Returns the
    bucketed corpus and the centroid list (driver-side — nlist × dim
    floats, bounded and tiny).

    At 100 TB: fit on a sample (KMeans does its own aggregation-tree
    iterations), write the bucketed corpus partitioned by bucket so a
    probe reads only nprobe/nlist of the data — the classic IVF layout
    expressed as Parquet partition pruning."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.withColumn(
        "_v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(
        k=nlist, seed=seed, featuresCol="_v", predictionCol="bucket"
    ).fit(vecs)
    assigned = model.transform(vecs).drop("_v")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def _topn_centroid_buckets_expr(vec_col: str, centroids: list[list[float]], nprobe: int) -> str:
    """Array of the ``nprobe`` nearest centroid ids for a vector —
    scored with fold-form dots against centroid literals, ranked by
    packing (score, idx) into sortable structs, all JVM-side."""
    scored = ", ".join(
        "named_struct('score', "
        + f"aggregate(zip_with({vec_col}, array({', '.join(f'{v!r}D' for v in c)}), "
        + "(e, w) -> CAST(e AS DOUBLE) * w), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        + f", 'idx', {i})"
        for i, c in enumerate(centroids)
    )
    return (
        f"slice(transform(reverse(array_sort(array({scored}))), s -> s.idx), 1, {nprobe})"
    )


def hash_centroids(
    corpus: DataFrame, nlist: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic coarse centroids: the ``nlist`` corpus vectors
    whose md5-derived id hash is smallest — a data-sampled quantizer
    (no iterations, one pass) whose selection any engine reproduces
    from the table alone. Clustering quality trails KMeans on clustered
    data; on the uniform fixture vectors the recall is equivalent, and
    the trade buys an end-to-end SQL-checkable IVF path."""
    hh = x.h60(f"concat('ivfc:', CAST({id_col} AS STRING))", x.SPARK)
    rows = (
        corpus.selectExpr(id_col, vec_col, f"{hh} AS _hh")
        .orderBy("_hh", id_col)
        .limit(nlist)
        .collect()
    )
    return [[float(v) for v in r[vec_col]] for r in rows]


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "kmeans",
) -> DataFrame:
    """Approximate top-k via IVF: search only the ``nprobe`` corpus
    buckets nearest each query. Recall/cost dial is nprobe/nlist
    (uniform-random fixture vectors are the worst case — clustered real
    embeddings concentrate neighbors in few buckets).

    ``quantizer="kmeans"`` (default) fits distributed Spark-ML KMeans;
    ``"hash"`` uses :func:`hash_centroids` and assigns each corpus
    vector to its max-dot centroid with the same JVM fold expressions
    as the probe — fully deterministic, which is what lets the
    ``ivf_ann_topk`` DuckDB oracle recompute the whole search."""
    if quantizer == "hash":
        centroids = hash_centroids(corpus, nlist, id_col=id_col, vec_col=vec_col)
        bucket = f"{_topn_centroid_buckets_expr(vec_col, centroids, 1)}[0]"
        assigned = corpus.selectExpr(id_col, vec_col, f"{bucket} AS bucket")
    else:
        assigned, centroids = ivf_index(
            corpus, dim, nlist, id_col=id_col, vec_col=vec_col
        )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket"
    )
    probe = _topn_centroid_buckets_expr("qv", centroids, nprobe)
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{vec_col} AS qv"
    ).selectExpr("query_id", "qv", f"explode({probe}) AS bucket")
    cos = x.cosine("qv", "cv", dim, x.SPARK)
    scored = (
        F.broadcast(q)
        .join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def filtered_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str = "label",
) -> DataFrame:
    """Filtered IVF search — :func:`ivf_cosine_topk`'s list restriction
    COMPOSED with :func:`filtered_cosine_topk`'s metadata predicate:
    one shared index over the whole corpus (the index is built once,
    not per predicate value), with the query's ``filter_col`` value
    pushed into the candidate join alongside the bucket key, so
    non-matching vectors are dropped at candidate generation — never
    scored, never ranked. This is pre-filtering at IVF granularity:
    the alternative (top-k first, filter after) under-fills k whenever
    the predicate is selective, which is the classic filtered-ANN
    failure mode.

    Uses the deterministic hash quantizer (same as ``ivf_ann_topk``'s
    oracle-able path) so the DuckDB oracle recomputes the entire
    filtered search. Scale shape: centroids are a bounded collect
    (nlist rows); the corpus assignment is one scan-local expression;
    the probe join broadcasts queries x nprobe rows; the only corpus
    exchange is the final top-k window.

    Boundedness contract (r13 ADVICE): the exploded query side
    (|queries| x nprobe rows) is UNCONDITIONALLY broadcast — the query
    set is assumed to be a bounded probe batch, not corpus-scale; at
    the defaults a 10k-query batch explodes to 80k rows (~25 MB of
    64-dim floats). Corpus-scale all-pairs workloads belong to the
    bucketed near-dup operators, not this entry point.
    """
    centroids = hash_centroids(corpus, nlist, id_col=id_col, vec_col=vec_col)
    bucket = f"{_topn_centroid_buckets_expr(vec_col, centroids, 1)}[0]"
    assigned = spread(corpus).selectExpr(
        id_col, vec_col, filter_col, f"{bucket} AS bucket"
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(filter_col).alias("_grp"),
        "bucket",
    )
    probe = _topn_centroid_buckets_expr("qv", centroids, nprobe)
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{vec_col} AS qv", f"{filter_col} AS _grp"
    ).selectExpr("query_id", "qv", "_grp", f"explode({probe}) AS bucket")
    cos = x.cosine("qv", "cv", dim, x.SPARK)
    scored = (
        F.broadcast(q)
        .join(c, on=["bucket", "_grp"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    planes: int = 4,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with multi-table LSH: a pair is a candidate if
    it collides in ANY of ``tables`` independent sign-bit tables.

    Recall ~ 1 - (1 - p^planes)^tables with p = 1 - angle/pi; the
    (planes, tables) defaults target moderately-separated neighbors.
    Cost model at scale: corpus is exploded ``tables``x (the classic
    LSH memory trade) and the bucket join replaces the O(N*Q) cross
    product; candidate sets shrink dramatically on real clustered
    embeddings (fixture vectors are uniform-random — the worst case).
    """
    bucket_arr = "array(" + ", ".join(
        lsh_bucket_expr(vec_col, dim, planes, t) for t in range(tables)
    ) + ")"
    c = corpus.selectExpr(
        f"{id_col} AS neighbor_id", f"{vec_col} AS cv",
        f"explode({bucket_arr}) AS bucket",
    )
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{vec_col} AS qv",
        f"explode({bucket_arr}) AS bucket",
    )
    cos = x.cosine("qv", "cv", dim, x.SPARK)
    scored = (
        F.broadcast(q)
        .join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantized_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors over int8-quantized vectors — the 4x-memory scale
    path for embedding search (the standard serving trade: symmetric
    per-vector quantization costs ~1% cosine error at float32->int8 but
    quarters the bytes scanned, broadcast, and cached).

    Every vector quantizes to q_i = round(v_i / (max|v|/127)); dot
    products and norms are then EXACT integer arithmetic (BIGINT sums,
    order-independent), with one final double division — so unlike the
    float baseline, even the approximate scores are bit-reproducible in
    any engine, and the DuckDB oracle verifies the quantized top-k
    exactly. Quantized arrays and integer norms are computed once per
    side before the join.
    """
    q8 = x.quantize8(vec_col, x.SPARK)
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{q8} AS qv"
    ).selectExpr("query_id", "qv", f"{x.qdot('qv', 'qv', x.SPARK)} AS qn")
    c = spread(corpus).selectExpr(
        f"{id_col} AS neighbor_id", f"{q8} AS cv"
    ).selectExpr("neighbor_id", "cv", f"{x.qdot('cv', 'cv', x.SPARK)} AS cn")
    # nullif: an all-zero vector quantizes to qn/cn = 0; NULL score
    # ranks after every real one instead of aborting under ANSI mode
    score = (
        f"(CAST({x.qdot('qv', 'cv', x.SPARK)} AS DOUBLE) / "
        f"nullif(sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)), 0.0d))"
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"{score} AS qcosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# -- product quantization (the 32x-memory ANN scale path) -------------------

def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: for each of ``m`` subspaces, the
    ``ksub`` subvectors of the corpus vectors with smallest
    md5('pqc{j}:' || id) hash — the same data-sampled quantizer trade
    as :func:`hash_centroids` (KMeans codebooks cluster better; hash
    codebooks make the ENTIRE compressed search oracle-reproducible
    from the table alone). Per-subspace hashes differ, so the m
    codebooks sample m independent vector subsets. Bounded collect:
    m * ksub rows."""
    ds = dim // m
    # ONE corpus scan for all m codebooks (not m scans): explode each
    # vector into its m (j, hash, subvector) candidates, per-j window
    # top-ksub, bounded m*ksub-row collect. At 100 TB the difference
    # between 1 scan and m scans is the whole cost of this step.
    parts = []
    for j in range(m):
        hh = x.h60(f"concat('pqc{j}:', CAST({id_col} AS STRING))", x.SPARK)
        parts.append(
            f"named_struct('j', {j}, 'hh', {hh}, "
            f"'sub', slice({vec_col}, {j * ds + 1}, {ds}))"
        )
    stack = ", ".join(parts)
    w = Window.partitionBy("j").orderBy("hh", id_col)
    rows = (
        corpus.selectExpr(id_col, f"explode(array({stack})) AS s")
        .select(id_col, "s.j", "s.hh", "s.sub")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= ksub)
        .orderBy("j", "_r")
        .collect()
    )
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["j"]].append([float(v) for v in r["sub"]])
    return books


def _pq_code_expr(vec_col: str, book: list[list[float]], j: int, ds: int) -> str:
    """argmin-L2 codeword index for subspace ``j`` — explicit
    per-codeword squared-distance chains into ONE primitive double
    array; the code is the position of the array minimum
    (array_position returns the FIRST match, so exact ties pick the
    lower index, mirrored by the oracle's ORDER BY dd, cidx). A
    struct-array sort computes the same thing but allocates and sorts
    ksub objects per subspace per row — measured 66 us/row of pure
    allocation churn at m=8, ksub=16; the primitive-array form stays
    in codegen with two flat arrays."""
    base = j * ds
    chains = []
    for w in book:
        terms = " + ".join(
            f"(CAST(element_at({vec_col}, {base + t + 1}) AS DOUBLE) - "
            f"{w[t]!r}D) * "
            f"(CAST(element_at({vec_col}, {base + t + 1}) AS DOUBLE) - "
            f"{w[t]!r}D)"
            for t in range(ds)
        )
        chains.append(f"({terms})")
    arr = f"array({', '.join(chains)})"
    return f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"


def _pq_dist_chain_exprs(
    vec_col: str, book: list[list[float]], j: int, ds: int
) -> list[str]:
    """The ksub squared-distance chains for subspace ``j`` (one SQL
    expression per codeword) — the shared first stage of the staged
    encode below. Codeword literals use the typed ``{v!r}D`` form:
    bit-identical to ``CAST({v!r} AS DOUBLE)`` (probed r19) at ~40% of
    the string, which matters because these chains are the largest
    generated SQL in the repo (m·ksub·ds literals — ~130 KB at
    m=8/ksub=16, 4× that at the sized_for geometry) and their parse is
    a pure scale-independent build constant."""
    base = j * ds
    chains = []
    for w in book:
        terms = " + ".join(
            f"(CAST(element_at({vec_col}, {base + t + 1}) AS DOUBLE) - "
            f"{w[t]!r}D) * "
            f"(CAST(element_at({vec_col}, {base + t + 1}) AS DOUBLE) - "
            f"{w[t]!r}D)"
            for t in range(ds)
        )
        chains.append(f"({terms})")
    return chains


def pq_codes_staged(
    df: DataFrame,
    books: list[list[list[float]]],
    ds: int,
    vec_col: str,
    carry: list[tuple[str, str]],
) -> DataFrame:
    """Two-projection PQ encode (r17, re-staged r18): stage 1 evaluates
    each (subspace, codeword) squared-distance chain ONCE into its own
    scalar column (plus the ``carry`` (expr, name) passthroughs); stage
    2 assembles each subspace's ksub columns into an array and reads
    the code off it with primitive array_position/array_min.

    Why two stages instead of one expression per code: the single
    expression ``array_position(arr, array_min(arr))`` embeds the
    chain array TWICE per subspace — double the tree Catalyst analyzes
    and janino compiles, and that tree size is what makes the build
    constant scale-independent (~25 s whatever the corpus; probe-pair
    rebuild_sec is flat across x10..x100). A lambda-fold argmin keeps
    one copy of the tree but pays a per-element struct allocation at
    RUNTIME — measured 3.7x single-process at x100, worse than the 3.0x
    it replaced (the same 66 us/row alloc-churn lesson as the struct
    sort this docstring's sibling already records). The staged split
    gets both: each chain appears once in the tree (compile), is
    materialized once per row (runtime), and the argmin runs primitive
    array ops over column refs. Catalyst's CollapseProject keeps the
    two projections separate because the distance columns are
    non-cheap and referenced twice (SPARK-36718).

    Why SCALAR distance columns instead of r17's per-subspace ARRAY
    columns (r18): with arrays, both stages fused into one
    WholeStageCodegen whose generated processNext() exceeded janino's
    64 KB method limit at the registered geometries (m=8/ksub=16
    already fails; sized_for's m=16/ksub=64 is 4x bigger). The compile
    FAILURE is not cached, so every execution re-parsed and re-failed a
    ~23k-line class on the driver (~1-2 s) before falling back to
    non-codegen operators. m*ksub scalar columns put the stage past
    spark.sql.codegen.maxFields (100), so Spark skips whole-stage
    fusion for it UP FRONT — no doomed compile, and each projection
    gets its own (method-splittable) expression codegen. Measured on
    the x10 fixture corpus (20k vectors): encode 2.2s -> 1.4s at
    m=8/ksub=16, 20-27s -> 8-11s at m=16/ksub=64; codes verified
    identical vector-for-vector.

    Values are identical to the single-expression form: same chains,
    same array_position first-match tie rule — every oracle unchanged."""
    dist_exprs = [
        f"{chain} AS _d{j}_{c}"
        for j, book in enumerate(books)
        for c, chain in enumerate(_pq_dist_chain_exprs(vec_col, book, j, ds))
    ]
    s1 = df.selectExpr(*[f"{e} AS {n}" for e, n in carry], *dist_exprs)
    code_exprs = []
    for j, book in enumerate(books):
        arr = "array(" + ", ".join(f"_d{j}_{c}" for c in range(len(book))) + ")"
        code_exprs.append(
            f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT) AS code_{j}"
        )
    return s1.selectExpr(*[n for _, n in carry], *code_exprs)


def pq_reconstruct_expr(code_cols: list[str], books: list[list[list[float]]]) -> str:
    """64-dim reconstruction x-hat from the m stored codes: concat of
    per-subspace codeword lookups against the codebook literals —
    scan-local, no join (the codebooks are plan constants)."""
    parts = []
    for j, (col, book) in enumerate(zip(code_cols, books)):
        # CAST({v!r}D AS FLOAT): double literal -> float cast is
        # bit-identical to the decimal-literal cast it replaces (the
        # codebook values ARE float32s, both roundings recover them
        # exactly — probed r19) at a fraction of the parse
        lits = ", ".join(
            "array(" + ", ".join(f"CAST({v!r}D AS FLOAT)" for v in w) + ")"
            for w in book
        )
        parts.append(f"element_at(array({lits}), {col} + 1)")
    return "concat(" + ", ".join(parts) + ")"


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The compressed table: (id, code_0..code_{m-1}) — m small ints
    per vector (~m bytes against dim*4 for float32: 32x at the 64-dim
    fixture, 96x for a 1536-dim production embedding at m=16). This is
    the table a 100 TB store actually keeps hot; full vectors stay on
    cold storage for reranking."""
    m = len(books)
    ds = dim // m
    return pq_codes_staged(
        spread(corpus), books, ds, vec_col, [(id_col, id_col)]
    )


def pq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via product quantization (Jegou et al. 2011,
    "Product Quantization for Nearest Neighbor Search", TPAMI): each
    corpus vector compresses to ``m`` codebook indices; search scores
    cosine(query, reconstruction) — mathematically identical to the
    classic ADC lookup-table sum (dot(q, x-hat) = sum_j dot(q_j,
    codeword_j)), but expressed as one 64-dim cosine chain so Spark
    and the DuckDB oracle execute the identical IEEE sequence.

    Scale shape: the codebooks are plan literals; encoding and
    reconstruction are scan-local expressions (no join, no shuffle);
    the query side broadcasts as in every ANN variant here. The
    memory story is the point: the hot table is m bytes/vector, so a
    100 TB float32 store becomes ~3 TB of codes — compose with the
    IVF bucketing (IncrementalANNIndex) for the standard IVF-PQ
    layout where this dial matters most."""
    books = pq_codebooks(corpus, m=m, ksub=ksub, dim=dim, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(corpus, books, dim=dim, id_col=id_col, vec_col=vec_col)
    recon = pq_reconstruct_expr([f"code_{j}" for j in range(m)], books)
    # norms precomputed once per side: x.cosine would re-fold both
    # norms per (query, neighbor) pair — nq-times redundant on the
    # corpus side. Same expressions, same IEEE sequence, same oracle.
    c = codes.selectExpr(f"{id_col} AS neighbor_id", f"{recon} AS rv").selectExpr(
        "neighbor_id", "rv", f"{x.norm_fold('rv', x.SPARK)} AS rn"
    )
    q = queries.selectExpr(f"{id_col} AS query_id", f"{vec_col} AS qv").selectExpr(
        "query_id", "qv", f"{x.norm_fold('qv', x.SPARK)} AS qn"
    )
    cos = f"({x.dot_fold('qv', 'rv', x.SPARK)} / nullif(qn * rn, 0.0d))"
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"{cos} AS pq_cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def pq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    rerank: int = 50,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-retrieve-then-exact-rerank — how PQ is actually deployed:
    codes are lossy WITHIN a neighborhood (every member of a tight
    cluster reconstructs to nearly the same x-hat, so the fine order
    among them is noise), so production search takes the top
    ``rerank`` PQ candidates and re-scores ONLY those against the
    full float vectors. The expensive float table is touched for
    rerank rows per query instead of the whole corpus — at 100 TB
    that is the difference between scanning 3 TB of codes + point
    lookups, and scanning 100 TB of floats.

    Returns (query_id, neighbor_id, cosine, rank) with EXACT cosines
    on the reranked top-k."""
    cands = pq_cosine_topk(
        queries, corpus, dim=dim, k=rerank, m=m, ksub=ksub,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    full = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.selectExpr(f"{id_col} AS query_id", f"{vec_col} AS qv")
    cos = x.cosine("qv", "cv", dim, x.SPARK)
    scored = (
        cands.join(full, on="neighbor_id")
        .join(F.broadcast(q), on="query_id")
        .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with exact rerank — the standard production ANN layout
    (FAISS's IndexIVFPQ shape), composed from the two index structures
    this engine already ships: the IVF coarse quantizer restricts each
    query to ``nprobe`` of ``nlist`` inverted lists (search touches
    nprobe/nlist of the corpus), PQ codes compress what those lists
    store to ``m`` bytes per vector (ADC scoring against
    reconstructions), and the final ``rerank`` candidates are rescored
    against the full float vectors. At 100 TB this is the whole
    serving story in one plan: the hot state is nlist centroid rows +
    m-byte codes bucketed by list; the float table is touched for
    rerank rows per query.

    Both quantizers are the deterministic hash-sampled kind
    (hash_centroids / pq_codebooks), so the ENTIRE three-stage search
    is recomputable in SQL — the registered query's oracle does
    exactly that. Returns (query_id, neighbor_id, cosine, rank) with
    EXACT cosines on the reranked top-k."""
    cents = hash_centroids(corpus, nlist, id_col=id_col, vec_col=vec_col)
    books = pq_codebooks(corpus, m=m, ksub=ksub, dim=dim, id_col=id_col, vec_col=vec_col)
    ds = dim // m
    bucket = f"{_topn_centroid_buckets_expr(vec_col, cents, 1)}[0]"
    codes = pq_codes_staged(
        spread(corpus), books, ds, vec_col,
        [(id_col, id_col), (bucket, "bucket")],
    )
    recon = pq_reconstruct_expr([f"code_{j}" for j in range(m)], books)
    probe = _topn_centroid_buckets_expr("qv", cents, nprobe)
    q = (
        queries.selectExpr(f"{id_col} AS query_id", f"{vec_col} AS qv")
        .selectExpr("query_id", "qv", f"{x.norm_fold('qv', x.SPARK)} AS qn")
        .selectExpr("query_id", "qv", "qn", f"explode({probe}) AS bucket")
    )
    # PROBE PUSHDOWN (r16, same as IncrementalIVFPQIndex.topk): the
    # probed bucket set is bounded (<= min(nlist, n_queries * nprobe));
    # filtering the codes BEFORE the reconstruction projection keeps
    # the dim-length ADC recon + norm fold off never-probed lists —
    # at production shapes (nlist ~ 1024, nprobe ~ 32) that is the
    # difference between reconstructing the corpus and reconstructing
    # nprobe/nlist of it. Semantics-preserving: the bucket equi-join
    # discards every filtered row anyway, and no float changes.
    probed = sorted(r.bucket for r in q.select("bucket").distinct().collect())
    c = (
        codes.filter(F.col("bucket").isin(probed))
        .selectExpr(f"{id_col} AS neighbor_id", "bucket", f"{recon} AS rv")
        .selectExpr(
            "neighbor_id", "bucket", "rv",
            f"{x.norm_fold('rv', x.SPARK)} AS rn",
        )
    )
    adc = f"({x.dot_fold('qv', 'rv', x.SPARK)} / nullif(qn * rn, 0.0d))"
    scored = (
        F.broadcast(q)
        .join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"{adc} AS adc")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    cands = (
        scored.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    qf = queries.selectExpr(f"{id_col} AS query_id", f"{vec_col} AS qv2")
    cos = x.cosine("qv2", "cv", dim, x.SPARK)
    rescored = (
        cands.join(full, on="neighbor_id")
        .join(F.broadcast(qf), on="query_id")
        .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# -- incremental ANN index -------------------------------------------------

class IncrementalANNIndex(SlicedIndex):
    """Daily-cadence IVF (the ANN member of the r11 incremental
    trilogy, next to sources/bucketed.BucketedPipeline and
    dedup.IncrementalNearDupIndex): an embedding store grows by a
    slice per ingest, and retraining + re-assigning the coarse
    quantizer over the full corpus each day is exactly the O(corpus)
    work a 100 TB pipeline can't pay. So the quantizer is FROZEN at
    init — ``hash_centroids`` over the first slice (deterministic:
    the nlist vectors with smallest md5 id-hash, oracle-reproducible)
    — and every ingest assigns only its own vectors (max-dot against
    the frozen centroids, a JVM fold expression) and appends them to
    a bucket-bucketed table. Search probes the standing table.

    State = two catalog tables:

    * ``{name}_ann_centroids`` (cidx, cv) — nlist rows, written once;
    * ``{name}_ann_vectors``   (vec_id, embedding, bucket) bucketed by
      ``bucket`` so a shuffle-join search is co-located on the corpus
      side; at driver scale the probe side broadcasts and no side
      shuffles.

    The frozen-quantizer trade is the standard IVF production posture
    (recall drifts only if the data distribution drifts away from the
    init slice; re-init is a rebuild, not an incident). Search results
    are bit-reproducible in SQL — same oracle shape as ivf_ann_topk
    with centroid selection restricted to the init slice.

    100 TB sizing rule (measured, tools/ann_nprobe_sweep.py ->
    ANN_NPROBE_r12.json): search scans ``nprobe * N / nlist`` vectors
    per query, so at FIXED nlist the latency grows linearly with the
    corpus (the 1.94 -> 3.26 s curve in SCALETREND_INGEST_r11). The
    knob is nlist, not nprobe: grow ``nlist ~ sqrt(N)`` as the corpus
    grows (re-init at rebuild cadence — nlist is frozen with the
    quantizer) and keep the ``nprobe / nlist`` FRACTION fixed at the
    recall target (>= 1/4 holds recall@10 >= 0.9 on clustered data at
    every measured scale; the sweep shows the same fraction at
    nlist=64 costs ~4x less per probe list than nlist=16). Per-query
    scanned rows are then ``(nprobe/nlist) * N`` with nlist tracking
    sqrt(N), i.e. candidate lists of O(sqrt(N)) — the standard IVF
    deployment posture.
    """

    def __init__(
        self,
        spark,
        name: str,
        dim: int = 64,
        nlist: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_buckets: int = 8,
    ) -> None:
        self.spark = spark
        self.centroids_table = f"{name}_ann_centroids"
        self.vectors_table = f"{name}_ann_vectors"
        self.dim = dim
        self.nlist = nlist
        self.id_col = id_col
        self.vec_col = vec_col
        self.num_buckets = num_buckets
        self.components = (("vectors", self.vectors_table, ["bucket"]),)

    # -- state --

    def _centroids(self) -> list[list[float]]:
        """Bounded collect: nlist rows (the same bounded-driver-side
        exception as hash_centroids / the nlist KMeans centers)."""
        rows = (
            self.spark.table(self.centroids_table)
            .orderBy("cidx")
            .collect()
        )
        return [[float(v) for v in r["cv"]] for r in rows]

    def init(self, vectors: DataFrame) -> None:
        """Freeze the quantizer on the first slice and ingest it."""
        from dagster_etl_spark.sources.bucketed import write_bucketed
        from dagster_etl_spark.sources.lake import delete_path

        self.drop()
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir")
        delete_path(
            self.spark, f"{warehouse}/{self.centroids_table.lower()}"
        )
        cents = hash_centroids(
            vectors, self.nlist, id_col=self.id_col, vec_col=self.vec_col
        )
        cent_df = self.spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], ["cidx", "cv"]
        ).selectExpr("cidx", f"CAST(cv AS array<float>) AS cv")
        cent_df.write.saveAsTable(self.centroids_table)
        assigned = self._assign(vectors, cents)
        write_bucketed(
            assigned,
            self.vectors_table,
            ["bucket"],
            num_buckets=self.num_buckets,
        )

    def _assign(self, vectors: DataFrame, cents: list[list[float]]) -> DataFrame:
        bucket = f"{_topn_centroid_buckets_expr(self.vec_col, cents, 1)}[0]"
        return vectors.selectExpr(
            self.id_col, self.vec_col, f"{bucket} AS bucket"
        )

    def append(self, vectors: DataFrame) -> None:
        """Ingest a slice: assign against the FROZEN centroids (one
        pass over the new rows only) and append into the bucketed
        layout. Batch-grain path — inside foreachBatch use
        :meth:`ingest_slice`, which is idempotent under replay."""
        from dagster_etl_spark.sources.bucketed import append_bucketed

        append_bucketed(
            self._assign(vectors, self._centroids()), self.vectors_table
        )

    def _stage_slice(self, vectors, slice_id, stage) -> None:
        """Requires :meth:`init` to have frozen the quantizer first;
        assignment is a pure function of it, so a replay rewrites
        identical rows. ``_assign`` is scan-local with no spread:
        partitioning = the micro-batch's own splits, already
        slice-sized — no file budget."""
        stage("vectors", self._assign(vectors, self._centroids()))

    def topk(
        self, queries: DataFrame, k: int = 10, nprobe: int = 8
    ) -> DataFrame:
        """IVF search over everything ingested so far: probe the
        nprobe nearest lists per query, cosine-rank within them.
        Same result columns and tie-breaks as ivf_cosine_topk."""
        cents = self._centroids()
        (standing,) = self._state("vectors")
        c = standing.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col).alias("cv"),
            "bucket",
        )
        probe = _topn_centroid_buckets_expr("qv", cents, nprobe)
        q = queries.selectExpr(
            f"{self.id_col} AS query_id", f"{self.vec_col} AS qv"
        ).selectExpr("query_id", "qv", f"explode({probe}) AS bucket")
        cos = x.cosine("qv", "cv", self.dim, x.SPARK)
        scored = (
            F.broadcast(q)
            .join(c, on="bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return scored.withColumn(
            "rank", F.row_number().over(w)
        ).filter(F.col("rank") <= k)

    def drop(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.centroids_table}")
        super().drop()


def ivf_nlist_for(n_vectors: int) -> int:
    """The measured IVF sizing rule as a function: nlist ~ n/1000,
    rounded up to a power of two and clamped to [16, 4096]
    (PROBEGROWTH_r16/_REBUCKET30_r17: ~1k vectors per list keeps a
    fixed-nprobe probe flat-to-falling as the corpus grows). Shared by
    :meth:`IncrementalIVFPQIndex.sized_for` (init-time geometry) and
    :meth:`IncrementalIVFPQIndex.maybe_rebucket` (the growth trigger),
    so the two ends of the index lifecycle stay on one rule."""
    nlist = 16
    while nlist < 4096 and nlist * 1000 < n_vectors:
        nlist *= 2
    return nlist


class IncrementalIVFPQIndex(SlicedIndex):
    """Daily-cadence IVF-PQ — the incremental form of :func:`ivf_pq_topk`
    and the fourth member of the incremental family (next to
    BucketedPipeline, IncrementalNearDupIndex, IncrementalANNIndex):
    a production embedding store is IVF-PQ (FAISS IndexIVFPQ) AND
    grows by a slice per day, so the daily unit of work must be
    O(new slice). Both quantizers FREEZE at init — the IVF coarse
    centroids (hash_centroids) and the m per-subspace PQ codebooks
    (pq_codebooks), both sampled from the init slice — and every
    append touches ONLY its own vectors: assign a list, encode m
    codes, append to the bucket-bucketed codes table. Because encode
    is a pure function of the frozen state, the accumulated index is
    IDENTICAL regardless of slicing (property-tested: accumulated ==
    one-shot), the same invariant the other incremental surfaces pin.

    State = three catalog tables:

    * ``{name}_ivfpq_centroids`` (cidx, cv) — nlist rows, written once;
    * ``{name}_ivfpq_codebooks`` (j, cidx, subvec) — m*ksub rows, once;
    * ``{name}_ivfpq_codes`` (id, bucket, code_0..code_{m-1}) —
      bucketed by ``bucket``; the HOT state, m small ints per vector
      (~8 bytes against dim*4 float32) — what a 100 TB store keeps
      resident while the float vectors live cold.

    Search probes nprobe lists, ADC-scores the stored codes against
    reconstructions (codebooks are a bounded m*ksub collect, turned
    into plan literals), and — given a ``rerank_source`` (the cold
    float table) — exact-reranks the top candidates. Fully
    SQL-recomputable: the registered query's oracle restricts BOTH
    quantizer pools to the init slice and replays all three stages.

    RECALL SIZING RULE (measured, ANN_NPROBE_PQ_r16; class DEFAULTS
    since r17 — the r16 verdict's "low-recall defaults" defect): PQ
    bits per vector (m * log2(ksub)) and the exact-rerank pool are the
    recall dials, and they must scale with WITHIN-LIST density — in
    the tight-cluster regime (exact top-k inside one dense cluster,
    PQ's worst case) the pre-r17 defaults (m=8, ksub=16 = 4 B/vector)
    tie out at recall ~0.1 even reranked, while m=16, ksub=64
    (12 B/vector, still 21x under float32) with the density-scaled
    rerank pool max(500, corpus // 200) measures 0.958 at 20k vectors
    and holds 0.83–0.91 at x50/x100. Those measured values ARE the
    defaults now: m=16, ksub=64, and ``topk(rerank=None)`` derives the
    density-scaled pool from the standing codes count
    (tests/test_ann_recall.py gates >= 0.8 in the tight-cluster
    regime). Pass the small geometry explicitly where gate-scale cost
    matters more than recall (the registered oracle queries do).
    Hash-sampled codebooks trade training cost for ~4x the codewords a
    trained k-means needs.
    """

    def __init__(
        self,
        spark,
        name: str,
        dim: int = 64,
        nlist: int = 16,
        m: int = 16,
        ksub: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_buckets: int = 8,
    ) -> None:
        self.spark = spark
        self.centroids_table = f"{name}_ivfpq_centroids"
        self.codebooks_table = f"{name}_ivfpq_codebooks"
        self.codes_table = f"{name}_ivfpq_codes"
        self.dim = dim
        self.nlist = nlist
        self.m = m
        self.ksub = ksub
        self.id_col = id_col
        self.vec_col = vec_col
        self.num_buckets = num_buckets
        self.components = (("codes", self.codes_table, ["bucket"]),)

    @classmethod
    def sized_for(
        cls,
        spark,
        name: str,
        n_vectors: int,
        dim: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IncrementalIVFPQIndex":
        """Geometry derived from corpus size — the measured sizing
        rules as a constructor (r16 verdict task 4's alternative form):

        * m=16, ksub=64 — the recall-measured PQ bits
          (ANN_NPROBE_PQ_r16: 0.83–0.96 recall with density-scaled
          rerank vs ~0.1 at 4 B/vector in the tight-cluster regime);
          m is clamped to dim (ds >= 1 subspace width);
        * nlist ~ n_vectors / 1000, clamped to [16, 4096] and rounded
          to a power of two — the soak-measured probe-growth lever
          (PROBEGROWTH_r16/_REBUCKET30_r17: ~1k vectors/list keeps the
          fixed probe flat-to-falling as the corpus grows; an index
          that outgrows its nlist re-buckets in place via
          :meth:`rebucket` at the same rule);
        * num_buckets follows nlist (bucket pruning maps 1:1 to
          probed lists).

        ``topk``'s rerank already density-scales by default."""
        m = min(16, dim)
        nlist = ivf_nlist_for(n_vectors)
        return cls(
            spark, name, dim=dim, nlist=nlist, m=m, ksub=64,
            id_col=id_col, vec_col=vec_col, num_buckets=max(8, nlist),
        )

    # -- frozen state (bounded collects: nlist + m*ksub rows) --

    def _centroids(self) -> list[list[float]]:
        rows = self.spark.table(self.centroids_table).orderBy("cidx").collect()
        return [[float(v) for v in r["cv"]] for r in rows]

    def _books(self) -> list[list[list[float]]]:
        rows = (
            self.spark.table(self.codebooks_table)
            .orderBy("j", "cidx")
            .collect()
        )
        books: list[list[list[float]]] = [[] for _ in range(self.m)]
        for r in rows:
            books[r["j"]].append([float(v) for v in r["subvec"]])
        return books

    def init(self, vectors: DataFrame) -> None:
        """Freeze both quantizers on the first slice and ingest it."""
        from dagster_etl_spark.sources.bucketed import write_bucketed
        from dagster_etl_spark.sources.lake import delete_path

        self.drop()
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir")
        for t in (self.centroids_table, self.codebooks_table):
            delete_path(self.spark, f"{warehouse}/{t.lower()}")
        cents = hash_centroids(
            vectors, self.nlist, id_col=self.id_col, vec_col=self.vec_col
        )
        self.spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], ["cidx", "cv"]
        ).selectExpr("cidx", "CAST(cv AS array<float>) AS cv").write.saveAsTable(
            self.centroids_table
        )
        books = pq_codebooks(
            vectors, m=self.m, ksub=self.ksub, dim=self.dim,
            id_col=self.id_col, vec_col=self.vec_col,
        )
        self.spark.createDataFrame(
            [(j, i, w) for j, book in enumerate(books) for i, w in enumerate(book)],
            ["j", "cidx", "subvec"],
        ).selectExpr(
            "j", "cidx", "CAST(subvec AS array<float>) AS subvec"
        ).write.saveAsTable(self.codebooks_table)
        write_bucketed(
            self._encode(vectors, cents, books),
            self.codes_table,
            ["bucket"],
            num_buckets=self.num_buckets,
        )

    def _encode(self, vectors: DataFrame, cents, books) -> DataFrame:
        """List assignment + m PQ codes for a slice — one scan-local
        projection against the frozen-state literals."""
        ds = self.dim // self.m
        bucket = f"{_topn_centroid_buckets_expr(self.vec_col, cents, 1)}[0]"
        coded = pq_codes_staged(
            spread(vectors), books, ds, self.vec_col,
            [(self.id_col, self.id_col), (bucket, "bucket")],
        )
        # Reconstruction norm PRE-COMPUTED at encode time (r16, the
        # ivfpq half of the BM25-pushdown lesson): rn is a pure
        # function of the codes, so paying the norm fold once per
        # vector at ingest — instead of once per vector PER PROBE —
        # removes a dim-length fold from the search hot path without
        # changing a single float (same rv, same fold, same value).
        recon = pq_reconstruct_expr(
            [f"code_{j}" for j in range(self.m)], books
        )
        return coded.selectExpr(
            "*", f"{x.norm_fold(f'({recon})', x.SPARK)} AS rn"
        )

    def append(self, vectors: DataFrame) -> None:
        """Ingest a slice: encode ONLY the new rows against the frozen
        quantizers and append into the bucketed codes layout.
        Batch-grain path — inside foreachBatch use :meth:`ingest_slice`,
        which is idempotent under checkpoint replay."""
        from dagster_etl_spark.sources.bucketed import append_bucketed

        self.recover_rebucket()  # don't append onto a half-swapped index
        coded = self._encode(vectors, self._centroids(), self._books())
        append_bucketed(coded, self.codes_table)

    def _stage_slice(self, vectors, slice_id, stage) -> None:
        """Requires :meth:`init` to have frozen the quantizers first
        (encode is a pure function of them, so a replay rewrites
        identical code rows)."""
        self.recover_rebucket()  # uniform self-heal (see append/topk)
        coded = self._encode(vectors, self._centroids(), self._books())
        stage("codes", coded, slice_file_budget(vectors))

    def compact_slices(self) -> int:
        self.recover_rebucket()  # uniform self-heal (see append/topk)
        return super().compact_slices()

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 8,
        rerank: int | None = None,
        rerank_source: DataFrame | None = None,
    ) -> DataFrame:
        """IVF-PQ search over everything ingested so far. With
        ``rerank_source`` (the cold float table) the top ``rerank``
        ADC candidates are exact-rescored; without it the ADC ranking
        itself is returned (columns query_id, neighbor_id, adc/cosine,
        rank).

        ``rerank=None`` applies the measured density-scaling rule
        (ANN_NPROBE_PQ_r16): pool = max(500, standing_codes // 200) —
        one bounded count agg on the codes table, paid only when a
        rerank_source is given. Pass an explicit int to pin it."""
        self.recover_rebucket()  # self-heal an interrupted swap (one stat)
        cents = self._centroids()
        books = self._books()
        (all_codes,) = self._state("codes")  # base ∪ committed slices
        if rerank is None and rerank_source is not None:
            rerank = max(500, all_codes.count() // 200)
        recon = pq_reconstruct_expr(
            [f"code_{j}" for j in range(self.m)], books
        )
        probe = _topn_centroid_buckets_expr("qv", cents, nprobe)
        q = (
            queries.selectExpr(f"{self.id_col} AS query_id", f"{self.vec_col} AS qv")
            .selectExpr("query_id", "qv", f"{x.norm_fold('qv', x.SPARK)} AS qn")
            .selectExpr("query_id", "qv", "qn", f"explode({probe}) AS bucket")
        )
        # PROBE PUSHDOWN (r16, the BM25-term-pushdown analog): the
        # probed bucket set is bounded (<= min(nlist, n_queries *
        # nprobe) values; the collect is a bounded job on the tiny
        # query side), and pushing it into the codes scan as an IN
        # filter BEFORE the reconstruction projection means the
        # dim-length ADC reconstruction runs only on probed lists and
        # the bucketed scan prunes never-probed buckets — probe cost
        # tracks nprobe/nlist of the corpus, not the corpus. rn comes
        # precomputed from encode time (see _encode).
        probed = sorted(
            r.bucket for r in q.select("bucket").distinct().collect()
        )
        c = (
            all_codes
            .filter(F.col("bucket").isin(probed))
            .selectExpr(
                f"{self.id_col} AS neighbor_id", "bucket", f"{recon} AS rv", "rn"
            )
        )
        adc = f"({x.dot_fold('qv', 'rv', x.SPARK)} / nullif(qn * rn, 0.0d))"
        scored = (
            F.broadcast(q)
            .join(c, on="bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .selectExpr("query_id", "neighbor_id", f"{adc} AS adc")
        )
        wc = Window.partitionBy("query_id").orderBy(
            F.col("adc").desc(), F.col("neighbor_id")
        )
        if rerank_source is None:
            return (
                scored.withColumn("rank", F.row_number().over(wc))
                .filter(F.col("rank") <= k)
            )
        cands = (
            scored.withColumn("crank", F.row_number().over(wc))
            .filter(F.col("crank") <= rerank)
            .select("query_id", "neighbor_id")
        )
        full = rerank_source.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.vec_col).alias("cv"),
        )
        qf = queries.selectExpr(
            f"{self.id_col} AS query_id", f"{self.vec_col} AS qv2"
        )
        cos = x.cosine("qv2", "cv", self.dim, x.SPARK)
        rescored = (
            cands.join(full, on="neighbor_id")
            .join(F.broadcast(qf), on="query_id")
            .selectExpr("query_id", "neighbor_id", f"{cos} AS cosine")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return rescored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    def rebucket(
        self, vectors: DataFrame, nlist: int, fault_hook=None
    ) -> None:
        """nlist re-bucketing compaction (r16 verdict task 5): re-derive
        the IVF coarse centroids at a (typically larger) ``nlist`` from
        ``vectors`` — the accumulated cold float table — and re-assign
        every stored code row's bucket in ONE distributed pass, giving
        a standing index that grew far past its init-time geometry an
        in-place path to the bigger nlist instead of a full rebuild.

        Why this is the cheap half of a rebuild: the PQ CODEBOOKS stay
        frozen, so the m argmin-L2 encodes (the expensive per-vector
        work, and the reason the one-shot build constant is what it is)
        are NOT recomputed — codes and rn are carried over unchanged.
        Only the coarse assignment reruns: join codes with ``vectors``
        on id, one argmin over the nlist new centroid literals per row,
        write the re-bucketed staging table, and swap it in with a
        catalog rename (maps to an ACID metastore pointer swap on a
        real cluster; no driver-side materialization anywhere).

        Exactness: the new bucket is computed from the ORIGINAL float
        vector — exactly what a fresh ``init`` at this nlist would
        assign — so a degenerate-cadence index (init on the full
        corpus) re-bucketed to nlist' is table-for-table identical to
        a fresh init at nlist', and full-probe search (which depends
        only on codes + rn) is bit-identical before and after any
        rebucket (both property-tested in tests/test_ann_incremental).

        Motivating measurement (PROBEGROWTH_r16): over a 30x corpus
        soak, probe cost grew 3.9x at nlist=16 but FELL 0.75x at
        nlist=64 — nlist is the probe-growth lever, and before this
        method it froze at init.

        CRASH SAFETY (r18, r17 verdict task 5): the swap is a staged
        roll-forward protocol, not bare DROP+RENAME. BOTH new tables
        (re-bucketed codes AND the new centroids) are fully staged
        under uuid-suffixed names first; then a one-file JSON MARKER
        (atomic ``os.replace``, same pattern as the slice-store
        manifest) records the staging names + new geometry; only then
        do the catalog swaps run. A crash anywhere after the marker is
        rolled FORWARD by :meth:`recover_rebucket` (called from
        :meth:`topk` and on the next rebucket): whichever swaps did
        not complete are completed from the staged tables, never
        leaving the index without a codes table or with codes bucketed
        against stale centroids. A crash BEFORE the marker leaves only
        unreferenced staging tables (the live index untouched). On a
        real cluster the marker+swap maps to a single ACID metastore
        transaction (Iceberg/Delta commit); the in-memory catalog here
        gets the same roll-forward story the honest way.

        FILE-BUCKET RESCALE (r17 ADVICE): the staged codes table is
        written at ``max(8, nlist)`` file buckets — sized_for's
        "num_buckets follows nlist" rule — so bucket pruning keeps its
        1:1 mapping to probed lists after growth instead of freezing
        at init-time granularity."""
        import uuid

        from dagster_etl_spark.sources.bucketed import write_bucketed

        hook = fault_hook or (lambda _label: None)
        leftover = self._read_rb_marker()
        if leftover is not None:
            # finish a crashed predecessor before staging a new swap
            self._complete_rebucket_swap(leftover)
        cents = hash_centroids(
            vectors, nlist, id_col=self.id_col, vec_col=self.vec_col
        )
        bucket = f"{_topn_centroid_buckets_expr(self.vec_col, cents, 1)}[0]"
        assign = spread(vectors).selectExpr(self.id_col, f"{bucket} AS bucket")
        # fold any committed slice deltas into the base first: the swap
        # rewrites the WHOLE codes table, so the region must be empty
        self.compact_slices()
        self.spark.catalog.refreshTable(self.codes_table)
        cols = self.spark.table(self.codes_table).columns
        codes = self.spark.table(self.codes_table).drop("bucket")
        # re-select in the original column order: the swapped-in table
        # must be schema-identical to what a fresh init writes
        recoded = codes.join(assign, on=self.id_col).select(*cols)
        # uuid-suffixed staging: after the rename the LIVE table keeps
        # the staging path (in-memory catalog semantics), so a fixed
        # staging name would collide with its own previous swap
        tag = uuid.uuid4().hex[:8]
        staging = f"{self.codes_table}__rb_{tag}"
        new_buckets = max(8, nlist)
        write_bucketed(recoded, staging, ["bucket"], num_buckets=new_buckets)
        # the float table must cover every ingested id — an inner join
        # that silently dropped codes would corrupt the index; fail the
        # swap instead (two metadata-cheap counts on the small tables)
        n_old = self.spark.table(self.codes_table).count()
        n_new = self.spark.table(staging).count()
        if n_new != n_old:
            self.spark.sql(f"DROP TABLE {staging}")
            raise ValueError(
                f"rebucket: float table covers {n_new} of {n_old} ingested "
                "ids — pass the full accumulated vector table"
            )
        cstaging = f"{self.centroids_table}__rb_{tag}"
        self.spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], ["cidx", "cv"]
        ).selectExpr("cidx", "CAST(cv AS array<float>) AS cv").write.saveAsTable(
            cstaging
        )
        hook("staged")
        self._write_rb_marker(
            {
                "codes_staging": staging,
                "centroids_staging": cstaging,
                "nlist": int(nlist),
                "num_buckets": int(new_buckets),
            }
        )
        hook("marker")
        self._complete_rebucket_swap(self._read_rb_marker(), fault_hook=hook)
        hook("post_swap")

    # -- rebucket swap marker (roll-forward crash recovery) ---------------

    def _rb_marker_path(self) -> str:
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir")
        for scheme in ("file://", "file:"):
            if warehouse.startswith(scheme):
                warehouse = warehouse[len(scheme):]
                break
        import os

        return os.path.join(
            warehouse, f"{self.codes_table.lower()}__rb_marker.json"
        )

    def _read_rb_marker(self) -> dict | None:
        import json

        try:
            with open(self._rb_marker_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_rb_marker(self, payload: dict) -> None:
        import json
        import os
        import tempfile

        path = self._rb_marker_path()
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".rb_marker_")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def _clear_rb_marker(self) -> None:
        import contextlib
        import os

        with contextlib.suppress(FileNotFoundError):
            os.unlink(self._rb_marker_path())

    def _complete_rebucket_swap(self, marker: dict, fault_hook=None) -> None:
        """Roll the marker's swaps FORWARD (idempotent): any staging
        table still present is renamed into place (dropping whatever
        live table it replaces); one already swapped by a crashed
        attempt is left alone. Geometry is taken from the marker, and
        the marker is cleared last — re-entering after a crash at any
        line repeats only the remaining work. The fault hooks expose
        the historically-unprotected windows (a crash AFTER the drop
        but BEFORE the rename — the r17 verdict's "no codes table"
        window) to the kill/restart tests."""
        hook = fault_hook or (lambda _label: None)
        for staging, live in (
            (marker["codes_staging"], self.codes_table),
            (marker["centroids_staging"], self.centroids_table),
        ):
            if self.spark.catalog.tableExists(staging):
                self.spark.sql(f"DROP TABLE IF EXISTS {live}")
                hook(f"pre_rename_{live}")
                self.spark.sql(f"ALTER TABLE {staging} RENAME TO {live}")
        self.nlist = int(marker["nlist"])
        self.num_buckets = int(marker["num_buckets"])
        self._clear_rb_marker()

    def recover_rebucket(self) -> bool:
        """Adopt an interrupted :meth:`rebucket`'s staged swap (r17
        verdict task 5). Returns True when a marker was found and its
        swaps completed; False when there was nothing to recover. Cheap
        (one stat) — :meth:`topk` calls it on entry so a standing index
        self-heals on first use after a crash, the same posture as the
        slice store's replay."""
        marker = self._read_rb_marker()
        if marker is None:
            return False
        self._complete_rebucket_swap(marker)
        return True

    def maybe_rebucket(
        self, vectors: DataFrame, max_per_list: int = 2000
    ) -> int | None:
        """Compaction-cadence auto-trigger (r17 verdict task 4): when
        the standing codes have outgrown the geometry — more than
        ``max_per_list`` vectors per list, i.e. 2x the ~1k/list sizing
        rule — re-bucket to :func:`ivf_nlist_for`'s geometry for the
        CURRENT size. Call it where compaction already runs (end of an
        ingest day / post-stream); it costs one count when the index is
        healthy and returns None, or the new nlist after re-bucketing.
        The 2x threshold gives hysteresis: the trigger fires only after
        a full doubling past the rule, so daily calls never thrash."""
        self.recover_rebucket()
        n = self._state("codes")[0].count()
        if n <= self.nlist * max_per_list:
            return None
        target = ivf_nlist_for(n)
        if target <= self.nlist:
            return None
        self.rebucket(vectors, target)
        return target

    def drop(self) -> None:
        for t in (self.centroids_table, self.codebooks_table):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
        super().drop()
        self._clear_rb_marker()


# -- Hybrid retrieval: BM25 (x) cosine via Reciprocal Rank Fusion --------------

RRF_K = 60
RRF_SCALE = 1_000_000


#: The brute-force hybrid's query-set bound (r14 verdict task 2): the
#: exact cosine leg scores every query against the whole corpus, so a
#: query set that GROWS with the corpus (bare ``id % seed_mod``) is
#: quadratic by construction. Capping query ids below this constant
#: fixes the query budget at ceil(cap / seed_mod) (= 21 at the default
#: seed_mod 97) no matter how large the corpus gets — the exact leg is
#: then a bounded-query batch like every other ANN entry point, linear
#: in corpus size. For query sets that must grow with the corpus, use
#: hybrid_rrf_ivf_topk (the IVF-leg scale path).
HYBRID_Q_ID_CAP = 2_000


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    k: int = 10,
    k_lex: int = 20,
    k_sem: int = 20,
    seed_mod: int = 97,
    dim: int = 64,
    rrf_k: int = RRF_K,
    scale: int = RRF_SCALE,
    q_id_cap: int = HYBRID_Q_ID_CAP,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused with Reciprocal Rank
    Fusion (Cormack, Clarke & Buettcher 2009): the production pattern
    every retrieval stack converges on — BM25 ranks from the inverted
    index, cosine ranks from the vector index, fused as
    ``Σ_systems 1/(rrf_k + rank)``.

    Queries are the shared BOUNDED id slice ``id % seed_mod == 0 AND
    id < q_id_cap`` on both sides (the fixtures align
    documents.doc_id with embeddings.vec_id 1:1 — the usual "one
    embedding row per document" layout). The cap is the structural
    guard on the exact cosine leg: an uncapped ``id % seed_mod`` grows
    the query set WITH the corpus, making the brute-force leg
    quadratic; with the cap the query budget is a constant
    (ceil(q_id_cap / seed_mod)) and the leg is linear in corpus size —
    the same bounded-query-batch contract as ann_cosine_topk. The
    fusion is integer-exact: with integer ranks, each contribution is
    the fixed-point ``scale DIV (rrf_k + rank)`` and the fused score
    is their BIGINT sum — no float until the terminal display column,
    so the oracle matches bit-for-bit and the (rrf_scaled DESC,
    doc_id) tiebreak never sits on a float boundary.

    Scale shape: both legs keep their own audited plans (BM25's
    inverted-index equi-join, cosine's broadcast-query scan); the
    fusion itself touches only ≤ (k_lex + k_sem) rows per query — a
    full-outer equi-join on (query_id, doc_id) between two tiny ranked
    sets, then a per-query top-k window over ≤ 40 rows. The fuse cost
    is independent of corpus size by construction.

    Returns (query_id, doc_id, lex_rank, sem_rank, rrf_scaled, rrf,
    rank), rank <= k; lex_rank/sem_rank NULL where the doc appears in
    only one system's list.
    """
    from dagster_etl_spark.operators.text import bm25_topk_docs

    lex = bm25_topk_docs(
        docs, k=k_lex, seed_mod=seed_mod, q_id_cap=q_id_cap
    ).select("query_id", "doc_id", F.col("rank").alias("lex_rank"))
    sem = cosine_topk(
        emb.filter(
            (F.col("vec_id") % seed_mod == 0) & (F.col("vec_id") < q_id_cap)
        ),
        emb,
        dim=dim,
        k=k_sem,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    fused = lex.join(sem, on=["query_id", "doc_id"], how="full_outer").selectExpr(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        f"COALESCE(CAST({scale} AS BIGINT) DIV ({rrf_k} + lex_rank), CAST(0 AS BIGINT))"
        f" + COALESCE(CAST({scale} AS BIGINT) DIV ({rrf_k} + sem_rank), CAST(0 AS BIGINT))"
        " AS rrf_scaled",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_scaled").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .selectExpr(
            "query_id",
            "doc_id",
            "lex_rank",
            "sem_rank",
            "rrf_scaled",
            f"CAST(rrf_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS rrf",
            "rank",
        )
    )


def hybrid_rrf_topk_oracle_sql(
    k: int = 10,
    k_lex: int = 20,
    k_sem: int = 20,
    seed_mod: int = 97,
    dim: int = 64,
    rrf_k: int = RRF_K,
    scale: int = RRF_SCALE,
    q_id_cap: int = HYBRID_Q_ID_CAP,
) -> str:
    """DuckDB mirror of :func:`hybrid_rrf_topk`: the BM25 leg embeds
    :func:`~dagster_etl_spark.operators.text.bm25_topk_docs_oracle_sql`
    as a CTE, the cosine leg mirrors the ann_cosine_topk oracle with
    the mod-``seed_mod`` query slice, and the fusion is the same
    integer fixed-point sum."""
    from dagster_etl_spark.operators.text import bm25_topk_docs_oracle_sql

    bm25_sql = bm25_topk_docs_oracle_sql(
        k=k_lex, seed_mod=seed_mod, q_id_cap=q_id_cap
    )
    cos = x.cosine("q.qv", "c.embedding", dim, x.DUCK)
    return f"""
WITH lex AS (
  SELECT query_id, doc_id, rank AS lex_rank FROM ({bm25_sql})
), semq AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % {seed_mod} = 0 AND vec_id < {q_id_cap}
), sem_scored AS (
  SELECT q.query_id, c.vec_id AS doc_id,
         {cos} AS cosine
  FROM semq q, embeddings c
  WHERE q.query_id <> c.vec_id
), sem_ranked AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS INT) AS sem_rank
  FROM sem_scored
), sem AS (
  SELECT query_id, doc_id, sem_rank FROM sem_ranked WHERE sem_rank <= {k_sem}
), fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.lex_rank, s.sem_rank,
         COALESCE(CAST({scale} AS BIGINT) // ({rrf_k} + l.lex_rank), CAST(0 AS BIGINT))
           + COALESCE(CAST({scale} AS BIGINT) // ({rrf_k} + s.sem_rank), CAST(0 AS BIGINT))
           AS rrf_scaled
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS INT) AS rank
  FROM fused
)
SELECT query_id, doc_id, lex_rank, sem_rank, rrf_scaled,
       CAST(rrf_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS rrf,
       rank
FROM ranked WHERE rank <= {k}
"""


def hybrid_rrf_ivf_topk(
    docs: DataFrame,
    emb: DataFrame,
    k: int = 10,
    k_lex: int = 20,
    k_sem: int = 20,
    seed_mod: int = 97,
    dim: int = 64,
    nlist: int = 16,
    nprobe: int = 8,
    rrf_k: int = RRF_K,
    scale: int = RRF_SCALE,
) -> DataFrame:
    """The SCALE PATH of :func:`hybrid_rrf_topk`: same Reciprocal Rank
    Fusion, but the semantic leg is the IVF index
    (:func:`ivf_cosine_topk`, deterministic hash quantizer) instead of
    the brute-force scan — each query scores only nprobe/nlist of the
    corpus, so the quadratic pair growth of the exact leg (queries
    grow with the corpus under ``id % seed_mod``) drops to
    ~queries x corpus/nlist x nprobe with the usual recall dial. The
    fusion itself is unchanged and stays <= (k_lex + k_sem)
    rows/query. Same output schema as :func:`hybrid_rrf_topk`."""
    from dagster_etl_spark.operators.text import bm25_topk_docs

    lex = bm25_topk_docs(docs, k=k_lex, seed_mod=seed_mod).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = ivf_cosine_topk(
        emb.filter(F.col("vec_id") % seed_mod == 0),
        emb,
        dim=dim,
        k=k_sem,
        nlist=nlist,
        nprobe=nprobe,
        quantizer="hash",
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    fused = lex.join(sem, on=["query_id", "doc_id"], how="full_outer").selectExpr(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        f"COALESCE(CAST({scale} AS BIGINT) DIV ({rrf_k} + lex_rank), CAST(0 AS BIGINT))"
        f" + COALESCE(CAST({scale} AS BIGINT) DIV ({rrf_k} + sem_rank), CAST(0 AS BIGINT))"
        " AS rrf_scaled",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_scaled").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .selectExpr(
            "query_id",
            "doc_id",
            "lex_rank",
            "sem_rank",
            "rrf_scaled",
            f"CAST(rrf_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS rrf",
            "rank",
        )
    )
