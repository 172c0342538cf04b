"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot product/norms via F.zip_with + F.aggregate (JVM-side, codegen).
- ``hyperplane_signature`` + ``ann_topk_lsh``: random-hyperplane LSH —
  the scale path: signature match prunes candidates before exact rerank.
- ``ivf_build`` / ``ivf_topk``: IVF — probe the nearest n_probe cells
  only. Centroids from ``kmeans_centroids`` (spherical k-means on a
  deterministic sample) or a fixed pseudo-random fallback.

Scale notes (100 TB / billions of vectors):
- brute force is a full scan per query — fine for batch scoring, wrong
  for online; LSH/IVF prune the scan to a bucket subset.
- the query vector enters the plan as a literal array (broadcast-free);
  batch query sets join on bucket/cell id (hash shuffle, no cross join).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _rng_matrix(n_rows: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-gaussian matrix via splitmix64 bits → uniform
    pairs → Box-Muller. No numpy dependency at plan time; stable across
    processes (no RNG state)."""
    def mix(x: int) -> int:
        x = (x + 0x9E3779B97F4A7C15) % (1 << 64)
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) % (1 << 64)
        return x ^ (x >> 31)

    out = []
    ctr = seed
    for _ in range(n_rows):
        row = []
        for _ in range(dim):
            ctr += 1
            u1 = (mix(ctr) % (1 << 53)) / float(1 << 53) or 1e-12
            ctr += 1
            u2 = (mix(ctr) % (1 << 53)) / float(1 << 53)
            row.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2))
        out.append(row)
    return out


# Determinism note (driver value-hash gate): every element is cast to
# DOUBLE *before* the multiply, matching the DuckDB oracles'
# CAST(embedding[i] AS DOUBLE) * CAST(... AS DOUBLE). f32 inputs are
# exact in f64, so both engines compute IDENTICAL products and the
# left-to-right f64 accumulation matches DuckDB's sequential grouped SUM
# bit-for-bit. (An f32×f32 product instead rounds to 24-bit mantissa —
# ~2e-9 per term — which makes round(...,6) straddle a boundary with
# probability ~1e-2 per emitted value: a latent gate flake, not a bug
# you can see in any single run.)

def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def _flit(v: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip form
    and Spark parses the D-suffixed form with Double.parseDouble — the
    identical IEEE value. (Unsuffixed decimals parse as DECIMAL.)"""
    return f"{float(v)!r}D"


def dot_flat(a: str, b: "str | list[float]", dim: int) -> Column:
    """Fixed-dim dot product as ONE F.expr of a flat left-assoc Add chain.

    Two deliberate choices:
    - flat chain, not zip_with/aggregate: HOF lambdas are interpreted per
      element (~10× slower in pair-join hot paths); the chain stays in
      whole-stage codegen.
    - a single SQL string, not 64 chained Column ops: every Column
      operator is a py4j round-trip — building 3×64-term trees costs
      ~2 s of DRIVER time per query construction (it dominated
      embedding_knn_brute's bench entry); one F.expr is one round-trip,
      parsed JVM-side.

    ``a`` is a SQL expression for an array column; ``b`` likewise, or a
    Python vector inlined as exact double literals. Accumulation is
    0.0 + t0 + t1 + … (left-assoc) with every element cast to DOUBLE
    before the multiply — bit-identical to the DuckDB oracles'
    sequential SUM of CAST(... AS DOUBLE) products."""
    if isinstance(b, (list, tuple)):
        terms = [f"CAST({a}[{i}] AS DOUBLE) * {_flit(b[i])}"
                 for i in range(dim)]
    else:
        terms = [f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
                 for i in range(dim)]
    return F.expr("0.0D + " + " + ".join(terms))


def norm_flat(a: str, dim: int) -> Column:
    """Fixed-dim L2 norm as ONE F.expr (see dot_flat); same f64
    accumulation as ``norm_expr``."""
    terms = [f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
             for i in range(dim)]
    return F.sqrt(F.expr("0.0D + " + " + ".join(terms)))


def pynorm(vec: list[float]) -> float:
    """Driver-side norm of a literal vector — bit-identical to the
    engines' sequential f64 accumulation (0 + v0² + v1² + …, then one
    correctly-rounded sqrt), so it can be inlined as a literal."""
    acc = 0.0
    for v in vec:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force top-k by cosine to a literal query vector.
    TakeOrderedAndProject keeps only k rows per partition → driver merge."""
    dim = len(query_vec)
    cos = (dot_flat(f"`{vec_col}`", query_vec, dim)
           / (norm_flat(f"`{vec_col}`", dim) * F.lit(pynorm(query_vec))))
    return (df.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
              .orderBy(F.desc("cosine"), id_col)
              .limit(k))


def cosine_topk_df(df: DataFrame, query_df: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = 64) -> DataFrame:
    """In-plan brute-force top-k: the query vector arrives as a 1-row
    DataFrame (broadcast crossJoin) instead of a driver-fetched literal —
    no job runs at plan-construction time, and at cluster scale the
    query row rides the broadcast plan like any dimension table. Same
    sequential f64 accumulation as ``cosine_topk`` (bit-identical
    scores)."""
    q = query_df.select(F.col(vec_col).alias("__qv"))
    dot = "0.0D + " + " + ".join(
        f"CAST(`{vec_col}`[{i}] AS DOUBLE) * CAST(__qv[{i}] AS DOUBLE)"
        for i in range(dim))
    nq = "0.0D + " + " + ".join(
        f"CAST(__qv[{i}] AS DOUBLE) * CAST(__qv[{i}] AS DOUBLE)"
        for i in range(dim))
    cos = F.expr(dot) / (norm_flat(f"`{vec_col}`", dim)
                         * F.sqrt(F.expr(nq)))
    return (df.crossJoin(F.broadcast(q))
              .select(F.col(id_col), F.round(cos, 6).alias("cosine"))
              .orderBy(F.desc("cosine"), id_col)
              .limit(k))


def pair_dot_pandas(df: DataFrame, va: str, vb: str, dim: int,
                    keep: list[str]) -> DataFrame:
    """Row-wise dot product of two vector columns via mapInPandas:
    per-dimension sequential f64 accumulation vectorized across rows —
    bit-identical to the SQL left-assoc fold, ~100× faster than an
    interpreted 64-term expression in a join post-condition. Returns
    ``keep`` columns plus ``__dot`` (double). Schema of kept columns is
    taken from ``df`` so callers can keep ids/norms of any type."""
    import pandas as pd

    kept_fields = [f for f in df.schema.fields if f.name in keep]
    out_schema = (", ".join(f"{f.name} {f.dataType.simpleString()}"
                            for f in kept_fields) + ", __dot double")

    def dots(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf[va].to_numpy()).astype(np.float64)[:, :dim]
            B = np.stack(pdf[vb].to_numpy()).astype(np.float64)[:, :dim]
            acc = np.zeros(len(pdf))
            for j in range(A.shape[1]):
                acc += A[:, j] * B[:, j]
            yield pdf[[f.name for f in kept_fields]].assign(__dot=acc)

    return df.mapInPandas(dots, out_schema)


def cosine_all_pairs(df: DataFrame, threshold: float,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     dim: int = 64,
                     n_blocks: int = 8) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold — the ground-truth twin of the
    LSH-bucketed ``embedding_near_dup_pairs`` (which prunes candidate
    pairs and can miss; this one cannot).

    Physical shape: BLOCK-PAIR GEMM (the standard distributed exact
    all-pairs decomposition). Every vector lands in one of ``n_blocks``
    hash blocks and is replicated to each block-pair group it
    participates in (replication factor ~n_blocks — the unavoidable
    all-pairs data inflation, chosen ≈ √parallelism); each (bi ≤ bj)
    group computes its dense block×block dot-product panel in ONE
    Arrow-batched pandas call via numpy. An earlier expression-tree
    formulation (BroadcastNestedLoopJoin with a 64-term codegen'd dot
    per pair) measured 10-50× slower: pair-join conditions are
    evaluated interpreted, ROUND() costs a BigDecimal per pair, and 2M
    joined rows carry both vectors through a copy — dense vector math
    is exactly the case where the Arrow/numpy path beats codegen.

    Determinism: the numpy accumulation loops dimension-by-dimension in
    float64 (acc += A[:,j]·B[:,j]), reproducing the sequential fold
    order of the SQL oracle bit-for-bit; the final ROUND(·,6) and the
    threshold compare stay ENGINE-side (the pandas stage only applies a
    1e-6 safety-margin prefilter), so cross-engine value hashes are
    decided by the same rounding code path as every other query.

    O(n²) total work: the correctness/recall BASELINE, not the scale
    path — at 100 TB use the LSH/IVF variants and audit their recall
    against a sampled run of this."""
    import pandas as pd

    # id type follows the input column (string/int ids work, not just
    # long — same derivation as pair_dot_pandas)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (f"id_a {id_type}, id_b {id_type}, __dot double, "
                  f"__na double, __nb double")
    margin = threshold - 1e-6

    def panel(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        la = pdf[pdf["__side"] != "R"]
        lb = pdf[pdf["__side"] != "L"]
        if not len(la) or not len(lb):
            return pd.DataFrame(
                {c: [] for c in
                 ("id_a", "id_b", "__dot", "__na", "__nb")})
        A = np.stack(la["__vec"].to_numpy()).astype(np.float64)[:, :dim]
        B = np.stack(lb["__vec"].to_numpy()).astype(np.float64)[:, :dim]
        ida = la[id_col].to_numpy()
        idb = lb[id_col].to_numpy()
        # Panel screening runs on BLAS (A @ B.T — pairwise summation,
        # NOT the engine fold order) with the threshold slackened by the
        # summation-order error bound; survivors are then RECOMPUTED
        # with the dimension-sequential f64 loop, which reproduces the
        # SQL fold order bit-for-bit. The O(n²) work is one dgemm per
        # panel instead of dim bandwidth-bound passes over the panel.
        na = np.zeros(len(A))
        nb = np.zeros(len(B))
        for j in range(A.shape[1]):
            na += A[:, j] * A[:, j]
            nb += B[:, j] * B[:, j]
        na, nb = np.sqrt(na), np.sqrt(nb)
        cos = (A @ B.T) / np.multiply.outer(na, nb)
        # |cos_blas − cos_seq| ≲ dim·eps·cond ≪ 1e-9 at these dims; the
        # margin already carries 1e-6 slack on top of the threshold.
        mask = cos >= margin - 1e-9
        if key[0] == key[1]:
            # diagonal panel: both sides are the same block — keep each
            # unordered pair once
            mask &= ida[:, None] < idb[None, :]
        ia, ib = np.nonzero(mask)
        # survivors: exact sequential-order dots (tiny: only pairs at
        # or above the margin)
        SA, SB = A[ia], B[ib]
        dots = np.zeros(len(ia))
        for j in range(A.shape[1]):
            dots += SA[:, j] * SB[:, j]
        aid, bid = ida[ia], idb[ib]
        # off-diagonal panels see each unordered pair exactly once but
        # with side = block order, not id order — orient the output
        swap = aid > bid
        return pd.DataFrame({
            "id_a": np.where(swap, bid, aid),
            "id_b": np.where(swap, aid, bid),
            "__dot": dots,
            "__na": np.where(swap, nb[ib], na[ia]),
            "__nb": np.where(swap, na[ia], nb[ib])})

    b_of = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    # replicate each row into every block-pair group it belongs to:
    # (min(b,o), max(b,o)) for every block o, tagged with which side(s)
    # of the panel it feeds ('B' = both, for the diagonal group).
    pairs_of = F.expr(
        f"transform(sequence(0, {n_blocks - 1}), o -> struct("
        f"least(__b, o) AS bi, greatest(__b, o) AS bj, "
        f"CASE WHEN o = __b THEN 'B' WHEN o > __b THEN 'L' "
        f"ELSE 'R' END AS side))")
    tagged = (df.select(F.col(id_col),
                        F.col(vec_col).alias("__vec"),
                        b_of.alias("__b"))
                .select(id_col, "__vec",
                        F.explode(pairs_of).alias("__g"))
                .select(id_col, "__vec",
                        F.col("__g.bi").alias("__bi"),
                        F.col("__g.bj").alias("__bj"),
                        F.col("__g.side").alias("__side")))
    # One task PER PANEL, explicitly: the panel shuffle is tiny in
    # bytes but huge in compute (an AQE byte-targeted coalesce would
    # serialize every panel into one task — measured 460s vs ~20s at
    # 20k vectors). AQE respects user-specified partition counts.
    n_panels = n_blocks * (n_blocks + 1) // 2
    # 4× partitions over panel count: hash collisions would otherwise
    # serialize two panels into one task; empties cost nothing.
    tagged = tagged.repartition(4 * n_panels, "__bi", "__bj")
    raw = tagged.groupBy("__bi", "__bj").applyInPandas(panel, out_schema)
    cosine = F.col("__dot") / (F.col("__na") * F.col("__nb"))
    return (raw.withColumn("cosine", F.round(cosine, 6))
               .where(F.col("cosine") >= threshold)
               .select("id_a", "id_b", "cosine"))


_SIG_CACHE: dict = {}


def hyperplane_signature(vec: str, n_planes: int = 16,
                         seed: int = 42, dim: int = 64) -> Column:
    """LSH bucket id: sign bits against n_planes fixed hyperplanes,
    packed into an int. ``vec`` is a SQL expression for the array
    column; the planes are inlined double literals — no side table, no
    broadcast, and the whole signature is ONE F.expr (n_planes×dim
    Column ops would be that many py4j round-trips).

    The parsed Column is MEMOIZED per SparkContext: the n_planes×dim
    literal string costs ~1.7s to parse through py4j, which would
    otherwise be paid on every fresh plan build (an unresolved Column
    is plan-independent and safely reusable across DataFrames of the
    same context)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = (id(sc), vec, n_planes, seed, dim)
    col = _SIG_CACHE.get(key)
    if col is not None:
        return col
    planes = _rng_matrix(n_planes, dim, seed)
    bits = []
    for i, p in enumerate(planes):
        dot = " + ".join(f"CAST({vec}[{j}] AS DOUBLE) * {_flit(p[j])}"
                         for j in range(dim))
        bits.append(f"IF(0.0D + {dot} >= 0.0D, {1 << i}, 0)")
    col = F.expr(" | ".join(bits))
    _SIG_CACHE[key] = col
    return col


def ann_topk_lsh(df: DataFrame, query_vec: list[float], k: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_planes: int = 8, seed: int = 42,
                 radius: int = 1) -> DataFrame:
    """Approximate top-k: candidates = vectors whose hyperplane signature
    is within hamming distance ``radius`` of the query's (multi-probe
    LSH), exact-reranked by cosine. Recall grows with fewer planes /
    larger radius; candidate fraction ≈ Σ_{r≤radius} C(n_planes,r)/2^n —
    radius 2 at 8 planes probes 37/256 ≈ 14% of buckets."""
    dim = len(query_vec)
    planes = _rng_matrix(n_planes, dim, seed)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query_vec)) >= 0:
            qsig |= 1 << i
    near = {qsig}
    frontier = {qsig}
    for _ in range(radius):
        frontier = {s ^ (1 << i) for s in frontier for i in range(n_planes)}
        near |= frontier
    near = sorted(near)
    sig = hyperplane_signature(f"`{vec_col}`", n_planes, seed, dim)
    cos = (dot_flat(f"`{vec_col}`", query_vec, dim)
           / (norm_flat(f"`{vec_col}`", dim) * F.lit(pynorm(query_vec))))
    return (df.withColumn("sig", sig)
              .where(F.col("sig").isin(near))
              .select(F.col(id_col), F.round(cos, 6).alias("cosine"))
              .orderBy(F.desc("cosine"), id_col)
              .limit(k))


def kmeans_centroids(df: DataFrame, n_cells: int = 16,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     sample_size: int = 4096, n_iter: int = 10,
                     seed: int = 42) -> list[list[float]]:
    """Train IVF centroids with spherical k-means on a deterministic
    sample (SCALE.md gap #3 — replaces the fixed pseudo-random seeding).

    The training set is the ``sample_size`` rows with the smallest
    xxhash64(id) — a stable, data-independent sample that every run (and
    every engine) reproduces, unlike ``df.sample()`` whose output depends
    on partitioning. Training happens driver-side in numpy: at 100 TB
    you still train on a ~10⁴–10⁵-row sample (faiss does exactly this) —
    only the ASSIGNMENT pass needs the cluster, and that stays in
    ``ivf_build``. Lloyd updates use argmax-dot on unit vectors
    (spherical k-means, the right objective for cosine retrieval);
    empty cells re-seed to the farthest point from its centroid.
    """
    import numpy as np

    rows = (df.select(F.col(vec_col).alias("v"),
                      F.xxhash64(F.col(id_col).cast("string")).alias("h"))
              .orderBy("h").limit(sample_size).collect())
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n = X.shape[0]
    if n < n_cells:
        raise ValueError(f"sample ({n}) smaller than n_cells ({n_cells})")

    rng = np.random.default_rng(seed)
    cents = X[rng.choice(n, size=n_cells, replace=False)].copy()
    for _ in range(n_iter):
        sims = X @ cents.T                      # (n, k) cosine on unit vecs
        assign = np.argmax(sims, axis=1)
        for ci in range(n_cells):
            members = X[assign == ci]
            if len(members) == 0:
                # re-seed dead cell to the globally worst-served point
                worst = int(np.argmin(np.max(sims, axis=1)))
                cents[ci] = X[worst]
                continue
            m = members.sum(axis=0)
            nrm = np.linalg.norm(m)
            if nrm > 1e-12:
                cents[ci] = m / nrm
    return cents.tolist()


def ivf_build(df: DataFrame, n_cells: int = 16, id_col: str = "vec_id",
              vec_col: str = "embedding", seed: int = 42,
              dim: int = 64,
              centroids: list[list[float]] | None = None) -> DataFrame:
    """Assign each vector to its nearest centroid — trained
    (``centroids=`` from ``kmeans_centroids``) or deterministic
    pseudo-random fallback. Returns df + cell_id. Write partitioned by
    cell_id for probe-pruned reads."""
    cents = centroids if centroids is not None else _rng_matrix(
        n_cells, dim, seed)
    dim = len(cents[0])
    # Assignment via broadcast join against a tiny centroid TABLE, not
    # n_cells inlined literal expressions: the plan carries ONE dim-term
    # dot product however many cells there are. (The literal form grew
    # ~n_cells×dim expression nodes — it OOM'd a vanilla 1g-driver
    # session at 16×64 and could never scale to IVF's usual thousands of
    # cells.) Row's own norm is constant across cells, so argmax needs no
    # normalization. max_by on (score, -cell) keeps first-wins ties;
    # partial aggregation combines map-side, one shuffle on the id, then
    # one co-partitioned join restores the original columns.
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(ci, [float(v) for v in cvec]) for ci, cvec in enumerate(cents)],
        "cell_id int, cvec array<double>")
    score = dot_flat(f"`{vec_col}`", "cvec", dim)
    assign = (df.select(id_col, vec_col)
                .crossJoin(F.broadcast(cdf))
                .withColumn("__score", score)
                .groupBy(id_col)
                .agg(F.max_by(
                    "cell_id",
                    F.struct(F.col("__score").alias("s"),
                             (-F.col("cell_id")).alias("negcell")))
                  .alias("cell_id")))
    return df.join(assign, id_col)


def ivf_write_partitioned(built: DataFrame, path: str) -> None:
    """Persist an IVF-built dataset (``ivf_build`` output) PARTITIONED
    BY cell_id — the 100 TB serving layout: ``ivf_topk``'s probe filter
    (cell_id IN probe-set) becomes hive-style PARTITION PRUNING at scan
    time, so the bytes read scale with n_probe/n_cells of the corpus
    and unprobed cells are never opened. Explicit parquet (readers use
    spark.read.parquet regardless of spark.sql.sources.default)."""
    (built.write.mode("overwrite").format("parquet")
          .partitionBy("cell_id").save(path))


def ivf_topk(df_with_cells: DataFrame, query_vec: list[float], k: int = 10,
             n_probe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", n_cells: int = 16,
             seed: int = 42,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """Probe the n_probe cells whose centroids best match the query,
    exact-rerank inside them. Pass the same ``centroids`` used at build
    time. With cell-partitioned storage this prunes the scan itself
    (partition pruning on cell_id)."""
    dim = len(query_vec)
    cents = (centroids if centroids is not None
             else _rng_matrix(n_cells, dim, seed))
    n_cells = len(cents)
    qn = math.sqrt(sum(v * v for v in query_vec)) or 1e-12
    scored = sorted(
        range(n_cells),
        key=lambda ci: -sum(a * b for a, b in zip(cents[ci], query_vec)) / qn)
    probe = scored[:n_probe]
    # try_divide + coalesce(-1): a ZERO-NORM stored vector has undefined
    # cosine — rank it last (least similar) instead of throwing ANSI
    # DIVIDE_BY_ZERO (round-10; matches the SQL cosine_distance macro's
    # zero-norm behavior so routed and exact paths order consistently).
    cos = F.coalesce(
        F.try_divide(dot_flat(f"`{vec_col}`", query_vec, dim),
                     norm_flat(f"`{vec_col}`", dim)
                     * F.lit(pynorm(query_vec))),
        F.lit(-1.0))
    return (df_with_cells.where(F.col("cell_id").isin(probe))
            .select(F.col(id_col), F.round(cos, 6).alias("cosine"))
            .orderBy(F.desc("cosine"), id_col)
            .limit(k))


# -- batch retrieval ------------------------------------------------------

def cosine_topk_batch(cand: DataFrame, queries: DataFrame, k: int = 10,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      qid_col: str = "qid",
                      qvec_col: str = "qvec", dim: int = 64) -> DataFrame:
    """Exact top-k for a SET of query vectors in one plan: broadcast the
    query side, cross-join against candidates, per-query window top-k.
    Returns (qid, vec_id, cosine, rank). The exact baseline for batch
    retrieval — cost |queries|×|cand|; at scale use ``ivf_topk_batch``
    (probe-cell equi-join instead of the cross join). ``dim`` is
    declared (no job at plan construction)."""
    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col(qvec_col).alias("qv"),
                       norm_flat(f"`{qvec_col}`", dim).alias("qn"))
    c = cand.select(F.col(id_col).alias("vec_id"),
                    F.col(vec_col).alias("cv"),
                    norm_flat(f"`{vec_col}`", dim).alias("cn"))
    # zero-norm vectors rank LAST (cosine -1), matching ivf_topk and
    # the SQL macro — ANSI mode would otherwise throw DIVIDE_BY_ZERO
    # (round-11: a zero stored vector crashed the batch paths)
    cos = F.coalesce(
        F.try_divide(dot_flat("cv", "qv", dim),
                     F.col("cn") * F.col("qn")), F.lit(-1.0))
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (c.crossJoin(F.broadcast(q))
             .withColumn("cosine", F.round(cos, 6))
             .withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= k)
             .select("qid", "vec_id", "cosine", "rank"))


def ivf_topk_batch(built: DataFrame, queries: DataFrame,
                   centroids: list[list[float]], k: int = 10,
                   n_probe: int = 4, id_col: str = "vec_id",
                   vec_col: str = "embedding", qid_col: str = "qid",
                   qvec_col: str = "qvec") -> DataFrame:
    """Batch IVF retrieval — the 100 TB shape: each query probes its
    n_probe best cells, candidates join on cell_id (hash equi-join, no
    cross join), exact rerank per query via window top-k.

    Query-side cell ranking joins the queries against the broadcast
    centroid table and keeps each query's n_probe best cells by window
    rank — like ivf_build, the plan carries ONE dim-term dot however
    many cells exist (inlined literals grew ~n_cells×dim nodes and
    OOM'd small driver heaps). The probe set is |queries|×n_probe rows;
    the candidate join touches only probed cells (with cell-partitioned
    storage, partition pruning does the same for the scan)."""
    from pyspark.sql import Window

    dim = len(centroids[0])
    spark = queries.sparkSession
    cdf = spark.createDataFrame(
        [(ci, [float(v) for v in cvec]) for ci, cvec in enumerate(centroids)],
        "cell_id int, cvec array<double>")
    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col(qvec_col).alias("qv"),
                       norm_flat(f"`{qvec_col}`", dim).alias("qn"))
    wq = Window.partitionBy("qid").orderBy(
        F.desc(F.col("__cscore")), F.asc("cell_id"))
    probes = (q.crossJoin(F.broadcast(cdf))
               .withColumn("__cscore", dot_flat("qv", "cvec", dim))
               .withColumn("__crank", F.row_number().over(wq))
               .where(F.col("__crank") <= n_probe)
               .select("qid", "qv", "qn", "cell_id"))
    c = built.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("cv"),
                     norm_flat(f"`{vec_col}`", dim).alias("cn"),
                     "cell_id")
    # zero-norm vectors rank LAST (cosine -1), matching ivf_topk and
    # the SQL macro — ANSI mode would otherwise throw DIVIDE_BY_ZERO
    # (round-11: a zero stored vector crashed the batch paths)
    cos = F.coalesce(
        F.try_divide(dot_flat("cv", "qv", dim),
                     F.col("cn") * F.col("qn")), F.lit(-1.0))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (c.join(F.broadcast(probes), "cell_id")
             .withColumn("cosine", F.round(cos, 6))
             .withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= k)
             .select("qid", "vec_id", "cosine", "rank"))


# -- int8 scalar quantization ---------------------------------------------

def quantize_int8(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: q_i =
    floor(x_i / absmax * 127 + 0.5) with ``qscale = absmax / 127`` so
    x_i ≈ q_i * qscale. The storage shape every large-scale vector
    store uses (4× smaller than float32, SIMD-friendly int dot).

    floor(x + 0.5) is used instead of round() deliberately: engines
    disagree on half-even vs half-up rounding, floor(+0.5) is identical
    IEEE arithmetic everywhere. Zero vectors quantize to all-zero with
    qscale 0 (guarded divisor).

    Map-only (no shuffle); all expressions are single F.expr strings —
    one py4j round-trip, fully codegen'd (see dot_flat's rationale)."""
    e = vec_col
    am = " GREATEST(" + ", ".join(
        f"abs(CAST({e}[{i}] AS DOUBLE))" for i in range(dim)) + ")"
    df = df.withColumn("__am", F.expr(am))
    safe = "if(__am = 0.0D, 1.0D, __am)"
    qterms = ", ".join(
        f"CAST(floor(CAST({e}[{i}] AS DOUBLE) / {safe} * 127.0D + 0.5D) "
        f"AS INT)" for i in range(dim))
    return (df.withColumn("qvec", F.expr(f"array({qterms})"))
              .withColumn("qscale", F.expr("__am / 127.0D"))
              .drop("__am"))


def quantize_vec_int8(vec: list[float]) -> tuple[list[int], float]:
    """Driver-side twin of ``quantize_int8`` for a literal query vector —
    same floor(+0.5) arithmetic, so a query quantized here is
    bit-identical to the same vector quantized in-plan."""
    am = max((abs(float(v)) for v in vec), default=0.0)
    safe = am if am != 0.0 else 1.0
    return ([int(math.floor(float(v) / safe * 127.0 + 0.5)) for v in vec],
            am / 127.0)


def quantized_cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          dim: int = 64) -> DataFrame:
    """Top-k by cosine computed ENTIRELY in the quantized domain: the
    per-vector scales cancel in cosine, so the score is
    qdot / (sqrt(|qa|²)·sqrt(|qq|²)) — integer sums (exact, order-free)
    with two final IEEE ops. The one ANN scoring path whose value hash
    is deterministic by construction."""
    qq, _ = quantize_vec_int8(query_vec)
    q = quantize_int8(df, id_col, vec_col, dim)
    qdot = "0L + " + " + ".join(
        f"CAST(qvec[{i}] AS BIGINT) * {qq[i]}L" for i in range(dim))
    qnrm = "0L + " + " + ".join(
        f"CAST(qvec[{i}] AS BIGINT) * CAST(qvec[{i}] AS BIGINT)"
        for i in range(dim))
    qnq = float(math.sqrt(sum(v * v for v in qq)))
    return (q.withColumn("__qdot", F.expr(qdot))
             .withColumn("__qnrm", F.expr(qnrm))
             .select(F.col(id_col),
                     F.round(F.expr(
                         f"CAST(__qdot AS DOUBLE) / "
                         f"(sqrt(CAST(__qnrm AS DOUBLE)) * {_flit(qnq)})"),
                         6).alias("qcosine"))
             .orderBy(F.desc("qcosine"), id_col)
             .limit(k))


def quantized_cosine_topk_df(df: DataFrame, query_df: DataFrame,
                             k: int = 10, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int = 64) -> DataFrame:
    """In-plan variant of ``quantized_cosine_topk``: the query vector is
    a 1-row DataFrame quantized INSIDE the plan and broadcast — no
    driver action at plan-construction time. Scores are bit-identical
    (same integer sums, same two final IEEE ops)."""
    q = quantize_int8(df, id_col, vec_col, dim)
    qq = (quantize_int8(query_df, id_col, vec_col, dim)
          .select(F.col("qvec").alias("__qq")))
    qdot = "0L + " + " + ".join(
        f"CAST(qvec[{i}] AS BIGINT) * CAST(__qq[{i}] AS BIGINT)"
        for i in range(dim))
    qnrm = "0L + " + " + ".join(
        f"CAST(qvec[{i}] AS BIGINT) * CAST(qvec[{i}] AS BIGINT)"
        for i in range(dim))
    qnq = "0L + " + " + ".join(
        f"CAST(__qq[{i}] AS BIGINT) * CAST(__qq[{i}] AS BIGINT)"
        for i in range(dim))
    score = F.expr(
        f"CAST(({qdot}) AS DOUBLE) / (sqrt(CAST(({qnrm}) AS DOUBLE)) "
        f"* sqrt(CAST(({qnq}) AS DOUBLE)))")
    return (q.crossJoin(F.broadcast(qq))
             .select(F.col(id_col), F.round(score, 6).alias("qcosine"))
             .orderBy(F.desc("qcosine"), id_col)
             .limit(k))


# -- product quantization --------------------------------------------------

def pq_train(df: DataFrame, m: int = 8, k: int = 16,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, sample_size: int = 4096, n_iter: int = 10,
             seed: int = 42) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``m`` subspaces and run
    L2 k-means (k centroids) in each. Driver-side numpy on the same
    deterministic xxhash-min sample ``kmeans_centroids`` uses — faiss
    trains PQ exactly this way; only ENCODING needs the cluster.

    Returns codebooks[m][k][dim/m]."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    rows = (df.select(F.col(vec_col).alias("v"),
                      F.xxhash64(F.col(id_col).cast("string")).alias("h"))
              .orderBy("h").limit(sample_size).collect())
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if X.shape[0] < k:
        raise ValueError(f"sample ({X.shape[0]}) smaller than k ({k})")
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m):
        Xs = X[:, s * sub:(s + 1) * sub]
        cents = Xs[rng.choice(Xs.shape[0], size=k, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for ci in range(k):
                members = Xs[assign == ci]
                if len(members) == 0:
                    worst = int(np.argmax(np.min(d2, axis=1)))
                    cents[ci] = Xs[worst]
                else:
                    cents[ci] = members.mean(axis=0)
        books.append(cents.tolist())
    return books


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode each vector as ``codes: array<int>`` (m bytes of PQ code —
    dim·4 bytes → m bytes of storage, the 32× compression that makes
    billion-vector indexes fit).

    Shape: broadcast the (sub_id, code, centroid) table, score every
    (row, sub, code) with one subdim-term L2 expression, min_by per
    (row, sub), reassemble codes per row ordered by sub_id — two
    co-partitioned shuffles on the id, independent of m·k (same
    broadcast-table pattern as ivf_build; inlined literals would not
    scale past toy codebook sizes)."""
    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    spark = df.sparkSession
    rows = [(s, c, [float(v) for v in codebooks[s][c]])
            for s in range(m) for c in range(k)]
    cdf = spark.createDataFrame(rows, "sub_id int, code int, cvec array<double>")
    # L2 distance of the row's s-th subvector to the centroid; subvector
    # extraction is index arithmetic inside ONE expr (no slice alloc).
    terms = " + ".join(
        f"(CAST(`{vec_col}`[sub_id * {sub} + {j}] AS DOUBLE) - cvec[{j}]) * "
        f"(CAST(`{vec_col}`[sub_id * {sub} + {j}] AS DOUBLE) - cvec[{j}])"
        for j in range(sub))
    d2 = F.expr(f"0.0D + {terms}")
    best = (df.select(id_col, vec_col)
              .crossJoin(F.broadcast(cdf))
              .withColumn("__d2", d2)
              .groupBy(id_col, "sub_id")
              .agg(F.min_by("code",
                            F.struct(F.col("__d2").alias("d"),
                                     F.col("code").alias("c")))
                    .alias("code")))
    codes = (best.groupBy(id_col)
                 .agg(F.expr(
                     "transform(array_sort(collect_list(struct(sub_id, "
                     "code))), x -> x.code)").alias("codes")))
    return df.join(codes, id_col)


def pq_topk_adc(df_codes: DataFrame, query_vec: list[float],
                codebooks: list[list[list[float]]], kk: int = 10,
                id_col: str = "vec_id", rerank: int = 0,
                vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance top-k: precompute the query's per-subspace
    dot-product lookup table driver-side (m·k doubles), then score each
    code word with m table lookups — no float vector is read at query
    time (the scan touches only the m-byte codes column). The classic
    IVF-PQ serving path; approximate, so correctness is recall-tested
    (tests/test_similarity.py) plus a recall-contract oracle.

    ``rerank`` > 0 enables the standard two-stage serve (faiss
    refine): ADC shortlists ``rerank`` candidates cheaply, then the
    float vectors of ONLY those rows are read and exact-cosine
    re-ranked — output becomes (id, cosine). At scale the refine stage
    touches rerank·dim floats, independent of corpus size."""
    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    luts = []
    for s in range(m):
        q = query_vec[s * sub:(s + 1) * sub]
        luts.append([sum(float(a) * float(b) for a, b in zip(q, c))
                     for c in codebooks[s]])
    parts = []
    for s in range(m):
        arr = ", ".join(_flit(v) for v in luts[s])
        parts.append(f"element_at(array({arr}), codes[{s}] + 1)")
    score = F.expr("0.0D + " + " + ".join(parts))
    if not rerank:
        return (df_codes
                .select(F.col(id_col), F.round(score, 6).alias("adc_score"))
                .orderBy(F.desc("adc_score"), id_col)
                .limit(kk))
    dim = len(query_vec)
    short = (df_codes
             .select(F.col(id_col), F.col(vec_col),
                     score.alias("__adc"))
             .orderBy(F.desc("__adc"), id_col)
             .limit(rerank))
    cos = (dot_flat(f"`{vec_col}`", query_vec, dim)
           / (norm_flat(f"`{vec_col}`", dim) * F.lit(pynorm(query_vec))))
    return (short.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
                 .orderBy(F.desc("cosine"), id_col)
                 .limit(kk))


def ivfpq_topk(df: DataFrame, query_vec: list[float],
               codebooks: list[list[list[float]]],
               centroids: list[list[float]], kk: int = 10,
               n_probe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding", rerank: int = 0) -> DataFrame:
    """IVF-PQ: the composition that serves billion-vector indexes —
    IVF cell pruning bounds the candidate set (read n_probe/n_cells of
    the data; with cell-partitioned storage the scan itself prunes),
    then PQ asymmetric distance ranks candidates reading only m-byte
    codes. faiss's IndexIVFPQ, as two existing operators composed:
    ``ivf_build`` assignments + ``pq_encode`` codes are both
    build-time; query time is centroid argmax (driver-side, tiny) + a
    code-column scan of the probed cells."""
    built = ivf_build(df, id_col=id_col, vec_col=vec_col,
                      centroids=centroids)
    enc = pq_encode(built, codebooks, id_col=id_col, vec_col=vec_col)
    dim = len(query_vec)
    qn = math.sqrt(sum(v * v for v in query_vec)) or 1e-12
    order = sorted(
        range(len(centroids)),
        key=lambda ci: -sum(a * b for a, b in
                            zip(centroids[ci], query_vec)) / qn)
    probe = order[:n_probe]
    return pq_topk_adc(enc.where(F.col("cell_id").isin(probe)),
                       query_vec, codebooks, kk=kk, id_col=id_col,
                       rerank=rerank, vec_col=vec_col)


def covariance_accumulate(df: DataFrame, vec_col: str = "embedding",
                          dim: int = 64, micro: int = 1_000_000
                          ) -> DataFrame:
    """Exact second-moment (Gram) accumulation — the distributed half
    of PCA/whitening over an embedding corpus: per partition, one numpy
    X^T X panel over Arrow batches (mapInPandas), then a combinable sum
    of the dim×dim partials. Entries are INTEGER-MICROUNIT products
    (round(x·1e6) as int64 before multiply), so the result is
    order-free exact — any engine, any partitioning, bit-identical —
    and a SQL oracle can reproduce it term-for-term.

    Returns (i, j, n, s) for the upper triangle (i ≤ j): s = Σ_rows
    xi_micro · xj_micro; cov/corr/PCA derive driver-side from the
    dim×dim result (4096 rows at dim 64 — the classic big-n/small-d
    reduction; the eigendecomposition is NOT distributed work).

    Scale: one pass, no shuffle before the dim²-sized combinable agg;
    int64 headroom = (micro·|x|)²·rows < 2⁶³ — at 100 TB (10¹¹ rows)
    drop ``micro`` to 1e3 or switch the partial dtype to float128/
    decimal; the per-partition panel is BLAS either way."""
    import pandas as pd

    schema = "i int, j int, n long, s long"

    def panels(batches):
        import numpy as np

        acc = np.zeros((dim, dim), dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # ROUND half-away-from-zero, matching Spark/DuckDB ROUND —
            # np.rint would bank-round .5 ties the other way.
            xr = x * micro
            xm = (np.sign(xr) * np.floor(np.abs(xr) + 0.5)).astype(np.int64)
            acc += xm.T @ xm
            n += len(pdf)
        if n:
            iu, ju = np.triu_indices(dim)
            yield pd.DataFrame({"i": iu.astype("int32"),
                                "j": ju.astype("int32"),
                                "n": np.int64(n),
                                "s": acc[iu, ju]})

    parts = df.select(vec_col).mapInPandas(panels, schema)
    return (parts.groupBy("i", "j")
                 .agg(F.sum("n").alias("n"), F.sum("s").alias("s")))


def pca_from_gram(gram_rows, dim: int = 64, k: int = 8,
                  micro: int = 1_000_000):
    """Driver-side finish of distributed PCA: reassemble the exact
    integer Gram triangle from ``covariance_accumulate`` rows
    (i, j, n, s), form the covariance in float64, and eigen-decompose —
    dim×dim work, independent of corpus size. Returns (eigenvalues
    desc, components [k×dim], mean) — components' sign fixed so each
    vector's largest-|coordinate| entry is positive (eigenvectors are
    sign-ambiguous; fixing it makes results comparable across runs)."""
    import numpy as np

    s = np.zeros((dim, dim), dtype=np.float64)
    n = 0
    for r in gram_rows:
        v = float(r["s"]) / (micro * micro)
        s[r["i"], r["j"]] = v
        s[r["j"], r["i"]] = v
        n = int(r["n"])
    if n < 2:
        raise ValueError("need at least 2 rows for a covariance")
    # covariance needs the mean too; the Gram triangle carries i==j and
    # i<j products but not Σx. Callers wanting centered PCA should
    # append a mean pass; for cosine-normalized embeddings the
    # UNcentered second moment is the standard spectrum (what this
    # returns): C = S / n.
    c = s / n
    w, v = np.linalg.eigh(c)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T
    flips = np.sign(comps[np.arange(len(order)),
                          np.abs(comps).argmax(axis=1)])
    comps = comps * flips[:, None]
    return w[order], comps, n


def jl_sign_matrix(k: int, dim: int, salt: str = "jl") -> list[list[int]]:
    """Deterministic Achlioptas ±1 Johnson–Lindenstrauss matrix:
    sign(j, i) = +1 iff the first hex digit of md5("{salt}:{j}:{i}")
    is < 8 (the digest's top bit). hashlib.md5 here and SQL ``md5()``
    agree on identical strings, so an oracle regenerates the matrix
    in-engine instead of shipping k×dim literals. (Achlioptas 2003:
    ±1 entries satisfy the JL lemma with the same distortion bounds
    as Gaussian entries.)"""
    import hashlib

    return [[1 if int(hashlib.md5(f"{salt}:{j}:{i}".encode())
                      .hexdigest()[0], 16) < 8 else -1
             for i in range(dim)]
            for j in range(k)]


def micro_vec_expr(vec_col: str, micro: int = 1_000_000) -> Column:
    """float32 vector → exact integer microunits (the
    embedding_label_centroids rounding argument: a binary fraction
    cannot hit an exact .5 at 1e6 scale, so ROUND is engine-identical)."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * micro).cast("long"))


def sq_dist_long(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² over two integer vectors — BIGINT arithmetic, so the
    reduction order cannot matter (no float sum to diverge between
    engines)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def random_projection_micro(df: DataFrame, k: int, dim: int,
                            vec_col: str = "embedding",
                            micro_col: str = "emb_micro",
                            out_col: str = "proj",
                            salt: str = "jl") -> DataFrame:
    """Johnson–Lindenstrauss sign projection, entirely in the integer
    domain: quantize the f32 vector to exact microunits, then each of
    the k output coordinates is a ±1-weighted BIGINT sum over the dim
    inputs. Adds ``micro_col`` (array<long> len dim) and ``out_col``
    (array<long> len k; the conventional 1/√k scale is left to the
    caller so the stored projection stays integer-exact).

    Scale: map-only — no shuffle, no state; at 100 TB this is the
    dimensionality-reduction prepass that shrinks every downstream
    ANN / near-dup shuffle by dim/k. The sign matrix is a constant
    folded into the plan (k×dim literal array), not a join side."""
    signs = jl_sign_matrix(k, dim, salt)
    # ONE parsed literal, not k×dim nested F.lit()/F.array() calls:
    # every Column constructor is a py4j roundtrip, so building a
    # 16×64 sign matrix column-by-column costs seconds of driver time
    # per fresh plan (round-13 §C8 A/B: 6-10 s nested vs <10 ms
    # parsed, identical value and schema — array<array<int>>). int()
    # keeps the parsed literal integral whatever the matrix holds.
    slit = F.expr("array(" + ",".join(
        "array(" + ",".join(str(int(s)) for s in row) + ")"
        for row in signs) + ")")
    proj = F.transform(
        F.sequence(F.lit(1), F.lit(k)),
        lambda j: F.aggregate(
            F.zip_with(F.col(micro_col), F.element_at(slit, j),
                       lambda x, s: x * s),
            F.lit(0).cast("long"), lambda acc, v: acc + v))
    return (df.withColumn(micro_col, micro_vec_expr(vec_col))
              .withColumn(out_col, proj))
