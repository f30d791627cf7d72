"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force exact top-k, pure JVM column expressions
  (zip_with dot product) — the correctness baseline, embarrassingly parallel
  (map + TakeOrdered k; no shuffle of the embedding table).
- `cosine_topk_arrow`: the same math through a vectorized Arrow UDF, one
  numpy pass per batch — the throughput path.
- `lsh_ann_topk`: random-hyperplane LSH bucketing: 100 TB path — candidates
  share the query's sign-bucket (optionally within hamming radius 1), exact
  cosine re-rank inside the bucket.

Hyperplanes are generated from a deterministic seed so results are stable
and oracle-checkable.
"""

from __future__ import annotations

from .. import lifecycle as lc
from ..io_codec import INDEX_CODEC

import math
import random

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def _lit_array(vec) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity_col(emb_col, query_vec) -> F.Column:
    q = _lit_array(query_vec)
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    e = F.transform(emb_col, lambda x: x.cast("double"))
    return _dot(e, q) / (_norm(e) * F.lit(qn))


def cosine_topk(df: DataFrame, query_vec, k: int = 10,
                emb_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(vec_id, cosine) exact top-k; deterministic ties by id. Zero-norm
    vectors (cosine NaN — which Spark would sort FIRST under desc) are
    excluded: an undefined similarity never ranks."""
    return (df.select(F.col(id_col),
                      cosine_similarity_col(F.col(emb_col), query_vec)
                      .alias("cosine"))
            .where(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def cosine_topk_arrow(df: DataFrame, query_vec, k: int = 10,
                      emb_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Same ranking via a numpy-vectorized Arrow UDF (one vectorized
    pass per Arrow batch instead of per-element codegen); each row's
    cosine is independent of the batch it lands in."""
    import numpy as np

    q = np.asarray(list(map(float, query_vec)))
    qn = float(np.linalg.norm(q))

    @F.pandas_udf(DoubleType())
    def cos(emb: pd.Series) -> pd.Series:
        # row-wise multiply + reduce, not a BLAS matvec: a matvec's
        # summation order can depend on the batch's shape, so two equal
        # vectors landing in different Arrow batches could differ in the
        # last ulp and the vec_id tie-break would never decide
        mat = np.vstack(emb.to_numpy())
        sims = ((mat * q).sum(axis=1)
                / (np.sqrt((mat * mat).sum(axis=1)) * qn))
        return pd.Series(sims)

    return (df.select(F.col(id_col), cos(F.col(emb_col)).alias("cosine"))
            .where(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def random_hyperplanes(dim: int, n_planes: int = 8, seed: int = 42):
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket_col(emb_col, planes) -> F.Column:
    """Sign-bit bucket id from deterministic hyperplanes."""
    e = F.transform(emb_col, lambda x: x.cast("double"))
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        bit = F.when(_dot(e, _lit_array(plane)) >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def query_probes(query_vec, planes, multiprobe: bool = True) -> list[int]:
    """The query's sign bucket plus (multiprobe) every hamming-1 neighbor —
    computed driver-side so a persisted index scan prunes to these bucket
    directories with zero Spark jobs."""
    qbits = 0
    for i, plane in enumerate(planes):
        if sum(p * float(x) for p, x in zip(plane, query_vec)) >= 0:
            qbits |= 1 << i
    return [qbits] + ([qbits ^ (1 << i) for i in range(len(planes))]
                      if multiprobe else [])


def lsh_ann_topk(df: DataFrame, query_vec, k: int = 10, n_planes: int = 8,
                 seed: int = 42, emb_col: str = "embedding",
                 id_col: str = "vec_id", multiprobe: bool = True) -> DataFrame:
    """Approximate top-k: candidates from the query's LSH bucket (plus all
    hamming-1 buckets when multiprobe), exact cosine within.

    Recomputes hyperplane dots over every vector per query — fine ad-hoc,
    wrong at scale: persist with `build_ann_index` and probe with
    `ann_query` instead."""
    planes = random_hyperplanes(len(query_vec), n_planes, seed)
    probes = query_probes(query_vec, planes, multiprobe)
    bucketed = df.withColumn("_bucket", lsh_bucket_col(F.col(emb_col), planes))
    cands = bucketed.where(F.col("_bucket").isin(probes))
    return cosine_topk(cands, query_vec, k, emb_col, id_col)


def lsh_bucket_arrow(planes):
    """Arrow-vectorized sign-bucket kernel: one numpy matmul per batch
    instead of n_planes nested fold expressions (the codegen of which
    dominates at build time). Sign margins on real embeddings are orders of
    magnitude above float-summation noise, so this agrees with
    `lsh_bucket_col` and the inlined-literal SQL oracle."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    pm = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = (1 << np.arange(pm.shape[1])).astype(np.int64)

    @F.pandas_udf(IntegerType())
    def bucket(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        bits = (mat @ pm) >= 0
        return pd.Series((bits @ weights).astype(np.int32))

    return bucket


def build_ann_index(df: DataFrame, out_dir: str, n_planes: int = 8,
                    seed: int = 42, emb_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """Persist the LSH-bucketed embedding table, directory-partitioned by
    bucket: the scale path for ANN. One pass computes every vector's
    sign-bucket; queries then read only the probed bucket directories
    (parquet partition pruning from driver-side literals) instead of
    re-hashing the whole table per query. Plane metadata (n_planes, seed,
    dim) rides a tiny side table so queries regenerate identical planes."""
    spark = df.sparkSession
    dim = len(df.select(emb_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    _write_vectors(df, emb_col, id_col, "bucket", lsh_bucket_arrow(planes),
                   0, _fresh(out_dir))
    spark.createDataFrame([(n_planes, seed, dim)],
                          "n_planes int, seed int, dim int") \
        .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(f"{out_dir}/meta")


class AnnIndex:
    """Loaded handle over a persisted ANN index: plane metadata is read
    ONCE, so each query is a single bucket-pruned scan action. Carries
    the generation state (lifecycle.py) for the incremental
    add/delete/compact flow."""

    def __init__(self, vectors: DataFrame, planes, spark=None,
                 out_dir: str | None = None, max_gen: int = 0,
                 tombstones: DataFrame | None = None):
        self.vectors = vectors
        self.planes = planes
        self.spark = spark
        self.out_dir = out_dir
        self.max_gen = max_gen
        self.tombstones = tombstones

    def candidates(self, query_vec, multiprobe: bool = True) -> DataFrame:
        probes = query_probes(query_vec, self.planes, multiprobe)
        return lc.live_rows(self.vectors.where(F.col("bucket").isin(probes)),
                         self.tombstones, "vec_id")

    def query(self, query_vec, k: int = 10, emb_col: str = "embedding",
              id_col: str = "vec_id", multiprobe: bool = True) -> DataFrame:
        return cosine_topk_arrow(self.candidates(query_vec, multiprobe),
                                 query_vec, k, emb_col, id_col)


def load_ann_index(spark, out_dir: str) -> AnnIndex:
    meta = spark.read.parquet(f"{out_dir}/meta").first()
    planes = random_hyperplanes(int(meta["dim"]), int(meta["n_planes"]),
                                int(meta["seed"]))
    max_gen, tombs = _gen_state(spark, out_dir)
    return AnnIndex(spark.read.parquet(f"{out_dir}/vectors"), planes,
                    spark, out_dir, max_gen, tombs)


def ann_candidates(spark, out_dir: str, query_vec,
                   multiprobe: bool = True) -> DataFrame:
    """Probe a persisted ANN index: rows whose bucket is the query's sign
    bucket or (multiprobe) a hamming-1 neighbor. Probes are driver-side
    literals → the scan prunes to ≤ n_planes+1 bucket directories.
    (One-shot form; load_ann_index amortizes the metadata read.)"""
    return load_ann_index(spark, out_dir).candidates(query_vec, multiprobe)


def ann_query(spark, out_dir: str, query_vec, k: int = 10,
              emb_col: str = "embedding", id_col: str = "vec_id",
              multiprobe: bool = True) -> DataFrame:
    """(vec_id, cosine) top-k over a persisted ANN index: bucket-pruned
    candidate scan, exact cosine re-rank within (Arrow matvec — the
    nested-fold column expression costs ~1 s of codegen per query)."""
    cands = ann_candidates(spark, out_dir, query_vec, multiprobe)
    return cosine_topk_arrow(cands, query_vec, k, emb_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: trained coarse quantizer instead of random
# hyperplanes. LSH buckets are data-oblivious — on clustered real-world
# embeddings most buckets are empty and a few are huge; IVF centroids
# follow the data, so list sizes are balanced and recall-per-probed-row is
# higher. Training runs driver-side on a bounded deterministic sample
# (the standard IVF recipe: the quantizer needs thousands of points, not
# the corpus), assignment is one Arrow matmul pass over the table, and a
# query prunes to the `nprobe` nearest lists' directories. With
# nprobe = n_lists the scan covers every row, so the result is EXACTLY the
# brute-force top-k — the oracle-checkable contract.
# ---------------------------------------------------------------------------


def _hash_sample(df: DataFrame, id_col: str, max_rows: int,
                 approx_total: int | None = None):
    """Deterministic sample: keep rows where xxhash64(id) lands in a
    modulus slice. Unlike df.sample(), independent of partitioning/order.
    `approx_total` (when the caller knows the table size cheaply) sizes
    the modulus without an extra count() action."""
    total = approx_total if approx_total is not None else df.count()
    if total <= max_rows:
        return df
    mod = max(2, total // max_rows + 1)
    return df.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)


def train_ivf_centroids(df: DataFrame, n_lists: int, seed: int = 42,
                        emb_col: str = "embedding", id_col: str = "vec_id",
                        sample_rows: int = 65_536, n_iter: int = 25,
                        approx_total: int | None = None):
    """Spherical k-means on a driver-side sample: k-means++ seeded init,
    Lloyd iterations with re-normalized centroids (cosine geometry).
    Returns a (n_lists, dim) float64 ndarray of unit centroids. Collects
    at most `sample_rows` vectors — bounded driver memory by contract."""
    import numpy as np

    rows = (_hash_sample(df.select(id_col, emb_col), id_col, sample_rows,
                         approx_total=approx_total)
            .limit(sample_rows).collect())
    x = np.vstack([np.asarray(r[emb_col], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    return _kmeans_spherical(x, n_lists, seed, n_iter)


def ivf_assign_arrow(centroids):
    """Arrow kernel: nearest-centroid list id per vector — one normalized
    matmul + argmax per batch. Zero vectors go to list 0."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    ct = np.asarray(centroids, dtype=np.float64).T  # (dim, k)

    @F.pandas_udf(IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        sims = (mat / norms[:, None]) @ ct
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return assign


def build_ivf_index(df: DataFrame, out_dir: str, n_lists: int = 64,
                    seed: int = 42, emb_col: str = "embedding",
                    id_col: str = "vec_id", sample_rows: int = 65_536,
                    approx_total: int | None = None) -> None:
    """Persist an IVF-partitioned embedding table: train the coarse
    quantizer on a bounded sample, assign every vector in one Arrow pass,
    write directory-partitioned by list_id, store centroids as a tiny side
    table (one row per list). At 100 TB: n_lists grows to O(sqrt(N)); the
    centroid table stays kilobytes and rides broadcast."""
    spark = df.sparkSession
    centroids = train_ivf_centroids(df, n_lists, seed, emb_col, id_col,
                                    sample_rows, approx_total=approx_total)
    _write_vectors(df, emb_col, id_col, "list_id",
                   ivf_assign_arrow(centroids), 0, _fresh(out_dir))
    spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "list_id int, centroid array<double>") \
        .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(f"{out_dir}/centroids")


def _nearest_centroid_lists(centroids, query_vec, nprobe: int) -> list[int]:
    """The nprobe centroid/list ids nearest the (normalized) query —
    driver-side literals, so scans prune to nprobe directories with zero
    Spark jobs. Shared by the IVF and IVF-PQ handles: zero-norm handling
    and the stable-sort tiebreak must never diverge between them."""
    import numpy as np

    q = np.asarray(list(map(float, query_vec)))
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    sims = centroids @ q
    order = np.argsort(-sims, kind="stable")
    return [int(i) for i in order[:max(1, min(nprobe, centroids.shape[0]))]]


class IvfIndex:
    """Loaded handle: centroids read once into a numpy matrix; each query
    is one bucket-pruned scan action over the nprobe nearest lists.
    Carries generation state for the incremental add/delete/compact flow."""

    def __init__(self, vectors: DataFrame, centroids, spark=None,
                 out_dir: str | None = None, max_gen: int = 0,
                 tombstones: DataFrame | None = None):
        self.vectors = vectors
        self.centroids = centroids  # (k, dim) unit float64
        self.spark = spark
        self.out_dir = out_dir
        self.max_gen = max_gen
        self.tombstones = tombstones

    @property
    def n_lists(self) -> int:
        return self.centroids.shape[0]

    def probe_lists(self, query_vec, nprobe: int):
        return _nearest_centroid_lists(self.centroids, query_vec, nprobe)

    def candidates(self, query_vec, nprobe: int = 8) -> DataFrame:
        return lc.live_rows(
            self.vectors.where(
                F.col("list_id").isin(self.probe_lists(query_vec, nprobe))),
            self.tombstones, "vec_id")

    def query(self, query_vec, k: int = 10, nprobe: int = 8,
              emb_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
        """(vec_id, cosine) top-k from the nprobe nearest lists, exact
        Arrow re-rank within. nprobe == n_lists ⇒ identical to brute-force
        cosine_topk (every row scanned) — the exactness contract."""
        return cosine_topk_arrow(self.candidates(query_vec, nprobe),
                                 query_vec, k, emb_col, id_col)


def _stack_centroids(rows, key: str = "list_id"):
    """The `centroid` arrays of `rows`, stacked in `key` order (float64)."""
    import numpy as np
    return np.vstack([np.asarray(r["centroid"], dtype=np.float64)
                      for r in sorted(rows, key=lambda r: r[key])])


def load_ivf_index(spark, out_dir: str) -> IvfIndex:
    centroids = _stack_centroids(
        spark.read.parquet(f"{out_dir}/centroids").collect())
    max_gen, tombs = _gen_state(spark, out_dir)
    return IvfIndex(spark.read.parquet(f"{out_dir}/vectors"), centroids,
                    spark, out_dir, max_gen, tombs)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized codes inside the IVF lists. The 100 TB memory
# story: a float32 embedding column is dim*4 bytes/vector (256 B at dim=64,
# 3 KB at dim=768); PQ stores m bytes (one uint8 code per subspace), a
# 32-384x smaller scan. A query reads ONLY the probed lists' codes
# directories, scores them with an ADC lookup table (m gathers + a row sum
# per vector — no float math against the raw vectors), keeps the top
# `rerank` ids, and re-ranks just those against the full-precision vectors
# (id semi-join into the same probed directories). Codebooks are classic
# per-subspace L2 k-means (Jegou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) trained driver-side on the same bounded
# deterministic sample as the coarse quantizer; vectors are unit-normalized
# first so the ADC inner product estimates cosine directly.
# With rerank=None every probed candidate is re-ranked at full precision,
# so nprobe=n_lists reproduces brute-force exactly (the oracle contract);
# recall at realistic (nprobe, rerank) is pinned by pytest.
# ---------------------------------------------------------------------------


def _pq_splits(dim: int, m: int):
    """Subspace boundaries: np.array_split semantics, computed once so the
    encoder and the ADC table agree on uneven splits."""
    import numpy as np

    sizes = [s.shape[0] for s in np.array_split(np.empty(dim), m)]
    bounds, off = [], 0
    for s in sizes:
        bounds.append((off, off + s))
        off += s
    return bounds


def train_pq_codebooks(x, m: int = 8, nbits: int = 8, seed: int = 42,
                       n_iter: int = 25):
    """Per-subspace L2 k-means over a (n, dim) unit-normalized sample.
    Returns a list of m (2^nbits, sub_dim) float64 codebooks (k clamped to
    the sample size). Pure numpy, driver-side, deterministic."""
    import numpy as np

    dim = x.shape[1]
    books = []
    for j, (lo, hi) in enumerate(_pq_splits(dim, m)):
        sub = np.ascontiguousarray(x[:, lo:hi])
        n = sub.shape[0]
        k = min(1 << nbits, n)
        rng = np.random.default_rng(seed + 1000 * j)
        # k-means++ seeding on L2
        cents = np.empty((k, sub.shape[1]))
        cents[0] = sub[rng.integers(n)]
        d2 = ((sub - cents[0]) ** 2).sum(axis=1)
        for i in range(1, k):
            probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
            cents[i] = sub[rng.choice(n, p=probs)]
            d2 = np.minimum(d2, ((sub - cents[i]) ** 2).sum(axis=1))
        for _ in range(n_iter):
            # assign by min L2: argmax(c.x - |c|^2/2)
            sims = sub @ cents.T - 0.5 * (cents ** 2).sum(axis=1)
            assign = np.argmax(sims, axis=1)
            moved = False
            for c in range(k):
                members = sub[assign == c]
                if len(members) == 0:
                    continue
                mean = members.mean(axis=0)
                if not np.allclose(mean, cents[c]):
                    cents[c] = mean
                    moved = True
            if not moved:
                break
        books.append(cents)
    return books


def pq_encode_arrow(codebooks, splits):
    """Arrow kernel: (normalized) vector -> m-byte PQ code. One matmul +
    argmin per subspace per batch; emits binary (m uint8s per row)."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    half_sq = [0.5 * (b ** 2).sum(axis=1) for b in books]

    @F.pandas_udf(BinaryType())
    def encode(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        codes = np.empty((mat.shape[0], len(books)), dtype=np.uint8)
        for j, (lo, hi) in enumerate(splits):
            sims = mat[:, lo:hi] @ books[j].T - half_sq[j]
            codes[:, j] = np.argmax(sims, axis=1).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    return encode


def pq_adc_arrow(codebooks, splits, query_vec):
    """Arrow kernel: PQ code -> approximate cosine vs the (normalized)
    query via an ADC lookup table computed ONCE driver-side: m uint8
    gathers + a row sum per vector. The scan never touches float
    embeddings."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    q = np.asarray(list(map(float, query_vec)), dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    # lut[j][c] = q_j . codebook_j[c]; pad ragged books to one 2-D table
    kmax = max(b.shape[0] for b in codebooks)
    lut = np.full((len(codebooks), kmax), -np.inf)
    for j, (lo, hi) in enumerate(splits):
        lut[j, :codebooks[j].shape[0]] = codebooks[j] @ q[lo:hi]
    m = len(codebooks)

    @F.pandas_udf(DoubleType())
    def adc(code: pd.Series) -> pd.Series:
        mat = np.frombuffer(b"".join(code.to_numpy()),
                            dtype=np.uint8).reshape(-1, m)
        return pd.Series(lut[np.arange(m), mat].sum(axis=1))

    return adc


def build_ivfpq_index(df: DataFrame, out_dir: str, n_lists: int = 64,
                      m: int = 8, nbits: int = 8, seed: int = 42,
                      emb_col: str = "embedding", id_col: str = "vec_id",
                      sample_rows: int = 65_536,
                      approx_total: int | None = None) -> None:
    """Persist an IVF-PQ index: `codes/` (vec_id + m-byte PQ code,
    directory-partitioned by list_id — the small scan), `vectors/` (full
    precision, same partitioning — the re-rank side), `centroids/` and
    `pq/` (codebooks, kilobytes). Training collects ONE bounded sample for
    both quantizers; assignment+encoding is one Arrow pass over the table,
    written once per side."""
    import numpy as np

    spark = df.sparkSession
    dim = len(df.select(emb_col).first()[0])
    rows = (_hash_sample(df.select(id_col, emb_col), id_col, sample_rows,
                         approx_total=approx_total)
            .limit(sample_rows).collect())
    x = np.vstack([np.asarray(r[emb_col], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    coarse = _kmeans_spherical(x, n_lists, seed)
    splits = _pq_splits(dim, m)
    books = train_pq_codebooks(x, m=m, nbits=nbits, seed=seed)

    _write_vectors(df, emb_col, id_col, "list_id", ivf_assign_arrow(coarse),
                   0, _fresh(out_dir), pq_encode_arrow(books, splits))
    spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(coarse)],
        "list_id int, centroid array<double>") \
        .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(f"{out_dir}/centroids")
    spark.createDataFrame(
        [(j, ci, [float(v) for v in books[j][ci]])
         for j in range(len(books)) for ci in range(books[j].shape[0])],
        "subspace int, code int, centroid array<double>") \
        .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(f"{out_dir}/pq")


class IvfPqIndex:
    """Loaded handle: coarse centroids + PQ codebooks read once; each query
    is one ADC scan over the probed lists' codes plus one bounded re-rank
    join against the full vectors."""

    def __init__(self, codes: DataFrame, vectors: DataFrame, centroids,
                 codebooks, dim: int, spark=None,
                 out_dir: str | None = None, max_gen: int = 0,
                 tombstones: DataFrame | None = None):
        self.codes = codes
        self.vectors = vectors
        self.centroids = centroids
        self.codebooks = codebooks
        self.splits = _pq_splits(dim, len(codebooks))
        self.spark = spark
        self.out_dir = out_dir
        self.max_gen = max_gen
        self.tombstones = tombstones

    @property
    def n_lists(self) -> int:
        return self.centroids.shape[0]

    def probe_lists(self, query_vec, nprobe: int):
        return _nearest_centroid_lists(self.centroids, query_vec, nprobe)

    def query(self, query_vec, k: int = 10, nprobe: int = 8,
              rerank: int | None = 100, emb_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
        """(vec_id, cosine) top-k. ADC-score the probed lists' codes, keep
        the top `rerank` ids (None = every probed candidate — exactness
        mode), re-rank those at full precision. The shortlist rides a
        broadcast semi-join, so the full-vector read is pruned to the same
        nprobe directories AND the ~rerank winning row groups."""
        probes = self.probe_lists(query_vec, nprobe)
        cands = lc.live_rows(self.vectors.where(F.col("list_id").isin(probes)),
                          self.tombstones, id_col)
        if rerank is not None:
            adc = pq_adc_arrow(self.codebooks, self.splits, query_vec)
            short = (lc.live_rows(
                        self.codes.where(F.col("list_id").isin(probes)),
                        self.tombstones, id_col)
                     .select(id_col, adc(F.col("code")).alias("_adc"))
                     .orderBy(F.desc("_adc"), F.asc(id_col))
                     .limit(int(rerank)).select(id_col))
            cands = cands.join(F.broadcast(short), on=id_col,
                               how="left_semi")
        return cosine_topk_arrow(cands, query_vec, k, emb_col, id_col)


def _kmeans_spherical(x, n_lists: int, seed: int, n_iter: int = 25):
    """Spherical k-means over an in-memory unit sample (shared by
    train_ivf_centroids and build_ivfpq_index)."""
    import numpy as np

    n = x.shape[0]
    k = min(n_lists, n)
    rng = np.random.default_rng(seed)
    centroids = np.empty((k, x.shape[1]))
    centroids[0] = x[rng.integers(n)]
    d2 = np.maximum(2.0 - 2.0 * (x @ centroids[0]), 0.0)
    for i in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centroids[i] = x[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, np.maximum(2.0 - 2.0 * (x @ centroids[i]), 0.0))
    for _ in range(n_iter):
        assign = np.argmax(x @ centroids.T, axis=1)
        moved = False
        for c in range(k):
            members = x[assign == c]
            if len(members) == 0:
                continue
            mu = members.mean(axis=0)
            mn = np.linalg.norm(mu)
            if mn > 0:
                mu = mu / mn
            if not np.allclose(mu, centroids[c]):
                centroids[c] = mu
                moved = True
        if not moved:
            break
    return centroids


def load_ivfpq_index(spark, out_dir: str) -> IvfPqIndex:
    centroids = _stack_centroids(
        spark.read.parquet(f"{out_dir}/centroids").collect())
    prows = spark.read.parquet(f"{out_dir}/pq").collect()
    books = [_stack_centroids([r for r in prows if r["subspace"] == j], "code")
             for j in range(max(r["subspace"] for r in prows) + 1)]
    dim = sum(b.shape[1] for b in books)
    max_gen, tombs = _gen_state(spark, out_dir)
    return IvfPqIndex(spark.read.parquet(f"{out_dir}/codes"),
                      spark.read.parquet(f"{out_dir}/vectors"),
                      centroids, books, dim, spark, out_dir, max_gen, tombs)


# ---------------------------------------------------------------------------
# Incremental ingest & deletes for the persisted vector indexes.
#
# The quantizers (LSH hyperplanes, IVF centroids, PQ codebooks) are FIXED
# at build time, so adding vectors is pure assignment with the stored
# parameters — O(new vectors), appended into the existing directory
# layout, never O(index). Deletes follow the shared generation contract
# (lifecycle.py): O(deletes) tombstone appends, folded in by
# `compact_vector_index`. Every write publishes through one lifecycle
# commit. Quantizer drift (the data distribution moving
# away from what the centroids were trained on) degrades recall, not
# correctness — retrain with a fresh build when adds dominate the corpus.
# ---------------------------------------------------------------------------


def _gen_state(spark, out_dir: str):
    """(max_gen, tombstones|None) from the sidecar tables; a fresh build
    has neither (0, None)."""
    lc.check_committed(spark, out_dir)
    max_gen = 0
    if lc.path_exists(spark, f"{out_dir}/genmeta"):
        max_gen = int(spark.read.parquet(f"{out_dir}/genmeta")
                      .first()["max_gen"])
    return max_gen, lc.read_tombstones(spark, f"{out_dir}/tombstones")


def _require_writable(index, fn: str) -> None:
    if index.spark is None or index.out_dir is None:
        raise ValueError(
            f"{fn} needs a handle from load_*_index (it carries the index "
            "path and generation state); ad-hoc handles are read-only")


def _write_vectors(df: DataFrame, emb_col: str, id_col: str, part: str,
                   assign, gen: int, write, encode=None) -> None:
    """Write `df`'s data tables at generation `gen` via `write(name, rows,
    part)`: vectors placed by the quantizer kernel `assign` (partition
    column `part`) and, with `encode`, their PQ codes from the same
    pass. Storage is CANONICAL (vec_id, embedding) regardless of input
    names: appends and tombstone joins must agree with the built files
    byte-for-byte (mixed per-file schemas read back as nulls)."""
    rows = (df.select(F.col(id_col).alias("vec_id"),
                      F.col(emb_col).alias("embedding"))
            .withColumn(part, assign(F.col("embedding")))
            .withColumn("gen", F.lit(gen).cast("long")))
    if encode is None:
        write("vectors", rows, part)
        return
    rows = rows.withColumn("code", encode(F.col("embedding"))).persist()
    try:
        write("codes", rows.select("vec_id", "code", "gen", part), part)
        write("vectors", rows.drop("code"), part)
    finally:
        rows.unpersist()


def _fresh(out_dir: str):
    """`_write_vectors` sink of a build: plain writes into a new index."""
    return lambda name, rows, part: lc.write_table(rows, f"{out_dir}/{name}",
                                                   part)


def _add_vectors(index, fn: str, df: DataFrame, emb_col: str, id_col: str,
                 part: str, assign, encode=None) -> None:
    """One commit per add: the rows, placed by the STORED quantizers and
    stamped with the next generation, are appended and genmeta advances
    with them."""
    _require_writable(index, fn)
    spark, root, new_gen = index.spark, index.out_dir, index.max_gen + 1
    lc.recover(spark, root)
    _write_vectors(df, emb_col, id_col, part, assign, new_gen,
                   lambda name, rows, p: lc.stage(spark, root, name, rows, p,
                                                  append=True), encode)
    lc.stage(spark, root, "genmeta",
             spark.createDataFrame([(new_gen,)], "max_gen long"))
    lc.publish(spark, root)
    index.max_gen = new_gen


def ann_add_vectors(index: AnnIndex, df: DataFrame,
                    emb_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """Append vectors to a persisted LSH-ANN index: bucket with the
    STORED hyperplanes, stamp the next generation, one commit.
    Re-adding a vec_id after `delete_vectors` replaces it (higher gen
    wins); adding a live vec_id twice duplicates it until a delete.
    Reload with `load_ann_index` to query the appended rows (the old
    handle's scan snapshot predates them)."""
    _add_vectors(index, "ann_add_vectors", df, emb_col, id_col, "bucket",
                 lsh_bucket_arrow(index.planes))


def ivf_add_vectors(index: IvfIndex, df: DataFrame,
                    emb_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """Append vectors to a persisted IVF index: assign with the STORED
    centroids (one Arrow pass), stamp the next generation, append."""
    _add_vectors(index, "ivf_add_vectors", df, emb_col, id_col, "list_id",
                 ivf_assign_arrow(index.centroids))


def ivfpq_add_vectors(index: IvfPqIndex, df: DataFrame,
                      emb_col: str = "embedding",
                      id_col: str = "vec_id") -> None:
    """Append vectors to a persisted IVF-PQ index: assign + PQ-encode
    with the STORED quantizers, append to both the codes and
    full-precision sides in one commit."""
    _add_vectors(index, "ivfpq_add_vectors", df, emb_col, id_col, "list_id",
                 ivf_assign_arrow(index.centroids),
                 pq_encode_arrow(index.codebooks, index.splits))


def ivf_probes_arrow(centroids, nprobe: int):
    """Arrow kernel: the nprobe nearest list ids PER VECTOR (array column)
    — the distributed counterpart of the driver-side
    `_nearest_centroid_lists`, for query sets too large to collect."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    ct = np.asarray(centroids, dtype=np.float64).T  # (dim, k)
    take = max(1, min(nprobe, ct.shape[1]))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probes(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        sims = (mat / norms[:, None]) @ ct
        order = np.argsort(-sims, axis=1, kind="stable")[:, :take]
        return pd.Series([row.astype("int32") for row in order])

    return probes


def ivf_knn_join(index: IvfIndex, queries: DataFrame, k: int = 10,
                 nprobe: int = 8, query_id: str = "query_id",
                 query_emb: str = "embedding",
                 emb_col: str = "embedding",
                 id_col: str = "vec_id",
                 salt: int = 1) -> DataFrame:
    """Distributed kNN JOIN: (query_id, vec_id, cosine) — the k nearest
    index vectors for EVERY query row, in one plan. The batch primitive
    of embedding-based curation (near-dup sweeps, semantic filtering,
    hard-negative mining), where per-query `IvfIndex.query` calls would
    mean one driver round-trip per query.

    Shape: queries explode to (query, list_id) via an Arrow probe kernel
    (nprobe rows per query), then a COGROUP on list_id pairs each list's
    queries with its vectors in one task — a single matmul per
    (list, query-batch) instead of shipping both embeddings per candidate
    pair — and each list emits only its per-query top-k (sound: a
    global-top-k vector is necessarily in its own list's top-k for that
    query), so the final per-query window sees ≤ nprobe·k rows per query,
    never the raw candidate count. nprobe = n_lists makes the result
    exactly the brute-force kNN join. At scale: hot lists skew the
    cogroup; n_lists should grow O(sqrt(N)) so single lists stay
    task-sized, and `salt > 1` sub-splits every list into `salt`
    hash-chunks (queries replicate across chunks; per-CHUNK top-k is
    still a superset of the global winners by the same containment
    argument), bounding task memory under any skew at the cost of
    salt× query replication. Ties break by ascending vec_id
    (deterministic)."""
    import numpy as np
    from pyspark.sql import Window

    probed = (queries
              .select(F.col(query_id).alias("query_id"),
                      F.col(query_emb).alias("_q"))
              .withColumn("list_id",
                          F.explode(ivf_probes_arrow(index.centroids,
                                                     nprobe)(F.col("_q")))))
    vecs = (lc.live_rows(index.vectors, index.tombstones, "vec_id")
            .select("list_id", F.col(id_col).alias("vec_id"),
                    F.col(emb_col).alias("_v")))
    return _knn_cogroup(probed, vecs, "list_id", k, salt,
                        queries.schema[query_id].dataType.simpleString(),
                        index.vectors.schema[id_col].dataType
                        .simpleString())


def _knn_cogroup(probed: DataFrame, vecs: DataFrame, key: str, k: int,
                 salt: int, qid_type: str, vid_type: str) -> DataFrame:
    """Shared kNN-join engine: cogroup `probed` (query_id, _q, key) with
    `vecs` (key, vec_id, _v) on `key` [+ optional hash salt], score each
    group with one matmul, emit per-group top-k, global per-query window
    top-k. See `ivf_knn_join` for the soundness argument."""
    import numpy as np
    from pyspark.sql import Window

    keys = [key]
    if salt > 1:
        probed = probed.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(int(salt) - 1))))
        vecs = vecs.withColumn(
            "_salt", F.pmod(F.xxhash64("vec_id"),
                            F.lit(int(salt))).cast("int"))
        keys.append("_salt")
    out_schema = f"query_id {qid_type}, vec_id {vid_type}, cosine double"
    kk = int(k)

    def per_group_topk(qpdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or vpdf.empty:
            return pd.DataFrame({"query_id": [], "vec_id": [],
                                 "cosine": []})
        qm = np.vstack(qpdf["_q"].to_numpy()).astype(np.float64)
        vm = np.vstack(vpdf["_v"].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(qm, axis=1)
        vn = np.linalg.norm(vm, axis=1)
        qn[qn == 0] = np.nan
        vn[vn == 0] = np.nan
        sims = (qm / qn[:, None]) @ (vm / vn[:, None]).T  # (nq, nv)
        take = min(kk, sims.shape[1])
        vid = vpdf["vec_id"].to_numpy()
        # per-query top-`take` by (-cosine, vec_id): argpartition, then
        # EXTEND the shortlist with every vector tied at the boundary
        # cosine before the exact lexsort — argpartition alone breaks
        # value-ties arbitrarily (exact-duplicate vectors are common in
        # dedup corpora), which would violate the deterministic vec_id
        # tiebreak and flake against the SQL oracle
        filled = np.nan_to_num(sims, nan=-2.0)
        part = np.argpartition(-filled, take - 1, axis=1)[:, :take]
        out_q, out_v, out_c = [], [], []
        qids = qpdf["query_id"].to_numpy()
        for row in range(sims.shape[0]):
            idx = part[row]
            boundary = filled[row, idx].min()
            tied = np.nonzero(filled[row] == boundary)[0]
            idx = np.unique(np.concatenate([idx, tied]))
            cos_row = sims[row, idx]
            keep = ~np.isnan(cos_row)
            idx, cos_row = idx[keep], cos_row[keep]
            order = np.lexsort((vid[idx], -cos_row))[:take]
            out_q.extend([qids[row]] * len(order))
            out_v.extend(vid[idx][order])
            out_c.extend(cos_row[order])
        return pd.DataFrame({"query_id": out_q, "vec_id": out_v,
                             "cosine": out_c})

    scored = (probed.groupBy(*keys)
              .cogroup(vecs.groupBy(*keys))
              .applyInPandas(per_group_topk, schema=out_schema))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= kk).drop("_rn"))


def ann_knn_join(index: AnnIndex, queries: DataFrame, k: int = 10,
                 multiprobe: bool = True, query_id: str = "query_id",
                 query_emb: str = "embedding",
                 emb_col: str = "embedding",
                 id_col: str = "vec_id",
                 salt: int = 1) -> DataFrame:
    """LSH counterpart of `ivf_knn_join`: each query probes its sign
    bucket plus (multiprobe) every hamming-1 neighbor — n_planes+1
    buckets, all computed as column algebra (bucket int XOR bit masks),
    then the shared cogroup-matmul top-k. Approximate (LSH recall);
    same deterministic tiebreak and salt lever."""
    n_planes = len(index.planes)
    probed = (queries
              .select(F.col(query_id).alias("query_id"),
                      F.col(query_emb).alias("_q"))
              .withColumn("_b0", lsh_bucket_arrow(index.planes)(
                  F.col("_q"))))
    if multiprobe:
        xors = ", ".join(["_b0"] + [f"_b0 ^ {1 << i}"
                                    for i in range(n_planes)])
        probed = probed.withColumn("bucket",
                                   F.explode(F.expr(f"array({xors})")))
    else:
        probed = probed.withColumn("bucket", F.col("_b0"))
    probed = probed.drop("_b0")
    vecs = (lc.live_rows(index.vectors, index.tombstones, "vec_id")
            .select("bucket", F.col(id_col).alias("vec_id"),
                    F.col(emb_col).alias("_v")))
    return _knn_cogroup(probed, vecs, "bucket", k, salt,
                        queries.schema[query_id].dataType.simpleString(),
                        index.vectors.schema[id_col].dataType
                        .simpleString())


def delete_vectors(index, vec_ids) -> None:
    """Mark vectors deleted in any persisted vector index (LSH/IVF/IVF-PQ
    handle): an O(deletes) tombstone append stamped with the current max
    generation. Queries anti-filter through the broadcast tombstone set
    until `compact_vector_index` folds it in."""
    _require_writable(index, "delete_vectors")
    id_type = index.vectors.schema["vec_id"].dataType.simpleString()
    lc.recover(index.spark, index.out_dir)
    lc.stage(index.spark, index.out_dir, "tombstones",
             index.spark.createDataFrame(
                 [(v, index.max_gen) for v in vec_ids],
                 f"vec_id {id_type}, gen long"), append=True)
    lc.publish(index.spark, index.out_dir)


def compact_vector_index(spark, out_dir: str) -> None:
    """Fold tombstones into a persisted vector index (works on all three
    layouts — the codes/ side is detected) with
    `lifecycle.fold_tombstones`: rewrite each data table minus dead rows
    in one commit, drop the tombstones LAST. Generations are PRESERVED,
    not reset: every surviving row has gen > its doc's newest tombstone,
    so leftover tombstones shadow nothing live, and a retried compaction
    just removes them. (Resetting gens to 0 would open a window where a
    crash between the swap and the tombstone delete permanently killed
    re-added rows.)"""
    tables = {"vectors": ("bucket" if lc.path_exists(spark, f"{out_dir}/meta")
                          else "list_id")}
    if lc.path_exists(spark, f"{out_dir}/codes"):
        tables["codes"] = "list_id"
    lc.fold_tombstones(spark, out_dir, "tombstones", tables, "vec_id")
