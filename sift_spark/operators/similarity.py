"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k entirely in native expressions
(zip_with + aggregate -> whole-stage codegen, no Python). Scale path:
random-hyperplane LSH bucketing turns the scan into a bucket-pruned
lookup; embedding-cosine near-dup pairs reuse the same buckets.

At 100 TB the brute-force form is a single narrow scan + a per-partition
top-k (TakeOrderedAndProject: Spark keeps k rows per partition, then k on
the driver -- no global sort). The LSH form prunes the scan by bucket
equi-join, the standard trade of recall for scan volume.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .dedup import (
    _drop_seen_matches,
    block_seen_join,
    block_self_join,
    width_checked,
)


def dot_col(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_col(a, b):
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_topk(emb_df, query_vec, k=10):
    """Brute-force cosine top-k against a constant query vector.
    Deterministic tiebreak on id.

    The QUERY's norm is a constant, but Catalyst does not constant-fold
    higher-order functions, so norm_col(literal array) was re-evaluated
    per row (dim interpreted lambda steps + sqrt, ~1/3 of the scan's
    per-row cost). Precompute it driver-side with the identical
    left-to-right double accumulation (0.0 + x*x ...) so the product,
    division and round(6) stay bit-identical."""
    import math

    query = F.array(*[F.lit(float(v)) for v in query_vec])
    qnorm = 0.0
    for v in query_vec:
        qnorm = qnorm + float(v) * float(v)
    qnorm = math.sqrt(qnorm)
    vec = F.col("embedding").cast("array<double>")
    scored = emb_df.select(
        F.col("vec_id"),
        F.round(
            dot_col(vec, query) / (norm_col(vec) * F.lit(qnorm)), 6
        ).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def hyperplane_bucket_col(vec_col, planes):
    """LSH bucket id: sign bits against fixed random hyperplanes
    (deterministic: planes are passed in, generated from a seed by the
    caller). Native: one bit per plane, packed into a BIGINT."""
    bits = [
        F.when(dot_col(vec_col, F.array(*[F.lit(float(v)) for v in plane]))
               >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    bucket = bits[0]
    for bit in bits[1:]:
        bucket = bucket + bit
    return bucket


def make_hyperplanes(dim, n_planes=8, seed=42):
    """Deterministic pseudo-random hyperplanes (pure function of seed)."""
    import random

    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_cosine_topk(emb_df, query_vec, k=10, probe_hamming=1):
    """Bucket-pruned ANN: scan only vectors whose hyperplane signature is
    within `probe_hamming` bits of the query's (multi-probe)."""
    dim = len(query_vec)
    planes = make_hyperplanes(dim)

    def signature(vec):
        bucket = 0
        for i, plane in enumerate(planes):
            if sum(x * y for x, y in zip(vec, plane)) >= 0:
                bucket |= 1 << i
        return bucket

    query_sig = signature([float(v) for v in query_vec])
    # all signatures within probe_hamming bits (previously only 1-bit
    # flips were generated regardless of the parameter, silently capping
    # recall); probe count is sum_h C(8, h) -- driver-side only
    import itertools

    probe_set = {query_sig}
    for h in range(1, probe_hamming + 1):
        for bits in itertools.combinations(range(len(planes)), h):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probe_set.add(query_sig ^ flip)
    probes = sorted(probe_set)

    vec = F.col("embedding").cast("array<double>")
    bucketed = emb_df.withColumn("bucket", hyperplane_bucket_col(vec, planes))
    pruned = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(pruned, query_vec, k)


def ivf_build(emb_df, n_clusters=16):
    """IVF index build: k-means coarse quantizer (pyspark.ml, seeded ->
    deterministic) assigns every vector to its nearest centroid.
    Returns (assigned_df with a `cluster` column, centers list).

    At 100 TB this is the classic two-stage ANN: the index build is one
    ML fit over a SAMPLE (k-means converges on a fraction of the data --
    pass emb_df.sample(...) for the fit corpus at scale), assignment is
    a narrow map, and queries scan only nprobe clusters."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    with_vec = emb_df.withColumn(
        "_fv", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(k=n_clusters, seed=42, featuresCol="_fv").fit(with_vec)
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    assigned = (
        model.transform(with_vec)
        .withColumnRenamed("prediction", "cluster")
        .drop("_fv")
    )
    return assigned, centers


def ivf_save(index, path):
    """Persist an ivf_build index for reuse across jobs: the assignment
    table as parquet (distributed write) plus the centroid list as ONE
    real JSON file, `centers.json`, through the Hadoop FileSystem
    client (plans/fsio) -- any Hadoop-capable URI (hdfs://, s3a://,
    file://) works."""
    import json

    from ..plans.fsio import write_text_file

    assigned, centers = index
    assigned.write.mode("overwrite").parquet(path + "/assigned")
    write_text_file(assigned.sparkSession, path + "/centers.json",
                    json.dumps(centers))


def ivf_load(spark, path):
    """Load an index persisted by :func:`ivf_save`; returns the
    (assigned_df, centers) pair ivf_cosine_topk consumes via `index=`.

    The sidecar is probed EXPLICITLY with fs.exists(): catching
    AnalysisException around the read would also swallow genuine
    analysis failures (permissions, corrupt files). A missing
    `centers.json` raises FileNotFoundError; read failures propagate
    with their real cause."""
    import json

    from ..plans.fsio import path_exists, read_text_file

    assigned = spark.read.parquet(path + "/assigned")
    if not path_exists(spark, path + "/centers.json"):
        raise FileNotFoundError(f"no centers sidecar at {path}/centers.json")
    return assigned, json.loads(read_text_file(spark, path + "/centers.json"))


def ivf_cosine_topk(emb_df, query_vec, k=10, n_clusters=16, nprobe=4,
                    index=None):
    """IVF-pruned ANN: rank centroids by cosine to the query (driver-side
    math over n_clusters small vectors), scan only the nprobe nearest
    clusters, exact cosine within them. nprobe = n_clusters degenerates
    to the exact brute-force scan (recall 1.0 by construction).

    index: optional prebuilt `(assigned_df, centers)` pair from
    :func:`ivf_build` -- IVF is build-once/probe-many; refitting k-means
    per query (the default, kept for one-shot calls and the driver
    gate) is the classic ANN anti-pattern at any real query volume.
    Build once (persist `assigned_df`, fit on a sample at scale per the
    ivf_build docstring) and pass the pair to every query."""
    import math

    if index is not None:
        assigned, centers = index
    else:
        assigned, centers = ivf_build(emb_df, n_clusters)
    q = [float(v) for v in query_vec]
    qn = math.sqrt(sum(x * x for x in q)) or 1.0

    def cos(c):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(x * y for x, y in zip(c, q)) / (cn * qn)

    ranked = sorted(range(len(centers)), key=lambda i: -cos(centers[i]))
    probes = ranked[:nprobe]
    pruned = assigned.filter(F.col("cluster").isin(probes))
    return cosine_topk(pruned, query_vec, k)


def semdedup_pairs(emb_df, n_clusters=16, min_cosine=0.95):
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): near-duplicate
    pairs found WITHIN k-means clusters of the embedding space -- the
    clustering bounds the pairwise work to intra-cluster comparisons
    (the paper's trick for running semantic dedup at web scale, vs the
    hyperplane-LSH bucketing of :func:`embedding_near_duplicates`;
    k-means adapts to the data's density where fixed hyperplanes do
    not).

    Plan: one seeded k-means fit (sample the fit corpus at scale, as
    ivf_build documents) + narrow assignment, then a self equi-join ON
    THE CLUSTER ID with exact cosine verify. Returns (id_a, id_b,
    cluster, cosine) pairs with id_a < id_b.

    Degenerate n_clusters=1 makes the within-cluster join the exact
    all-pairs scan, which is how the driver gate hash-checks the
    cluster equi-join -> verify plumbing (the same trick as the
    probe-all IVF row; pyspark.ml KMeans requires k > 1 and there is
    nothing to fit for one cluster, so k=1 assigns directly -- the
    k-means fit itself is exercised by the IVF gate row and the
    multi-cluster units); pruned-recall behavior is unit-tested."""
    if n_clusters == 1:
        assigned = emb_df.withColumn("cluster", F.lit(0))
    else:
        assigned, _ = ivf_build(emb_df, n_clusters)
    vec = F.col("embedding").cast("array<double>")
    sides = assigned.select(
        F.col("vec_id"), vec.alias("v"), F.col("cluster")
    )
    return (
        block_self_join(sides, ("cluster",), "vec_id")
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.cluster").alias("cluster"),
            F.round(cosine_col(F.col("a.v"), F.col("b.v")), 6)
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def semdedup(emb_df, n_clusters, min_cosine):
    """Semantic dedup: drop every vector that has a SMALLER-id
    near-neighbor in its cluster (the min-id keeper convention shared
    with dedup_exact) -- one representative survives per
    near-duplicate chain. Returns the kept rows of emb_df."""
    drops = semdedup_pairs(emb_df, n_clusters, min_cosine).select(
        F.col("id_b").alias("vec_id")).distinct()
    return emb_df.join(drops, "vec_id", "left_anti")


def embedding_near_duplicates(emb_df, dim, min_cosine=0.95):
    """Embedding-cosine near-dup pairs: bucket join (same signature) then
    exact cosine verify over 10 seed-42 hyperplanes (1024 buckets; more
    planes would mean smaller buckets, a cheaper join and lower recall).
    `dim` is the embedding width the hyperplanes are drawn for."""
    planes = make_hyperplanes(dim, 10)
    vec = F.col("embedding").cast("array<double>")
    bucketed = emb_df.select(
        F.col("vec_id"), vec.alias("v"),
        hyperplane_bucket_col(vec, planes).alias("bucket"),
    )
    return (
        block_self_join(bucketed, ("bucket",), "vec_id")
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine_col(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def embedding_seen_matches(new_emb, seen_emb, dim, max_bucket_size=None,
                           observation=None):
    """INCREMENTAL embedding near-dup: (new_id, seen_id, cosine) pairs
    with cosine >= 0.95 between a new batch and a PRIOR corpus
    represented by its persisted embedding table -- the embedding-family
    analogue of dedup.minhash_seen_matches, completing the weekly-crawl
    seen loop across all three dedup families (exact hashes / minhash /
    vectors).
    Snapshot = `emb_df.select(id, embedding)` written each run and
    unioned week over week (dim x 8 bytes per historical doc -- 512 B
    at dim 64, the same order as the 256 B minhash snapshot), and
    unlike minhash the verification is EXACT cosine, because the
    snapshot carries the vectors themselves.

    Plan: both sides bucket narrowly on the SAME seed-deterministic
    hyperplanes, block_seen_join equi-joins them on the bucket (never
    all-pairs) and caps the SEEN side's hot buckets (max_bucket_size,
    observable via `observation`), then an exact-cosine verify. Recall
    is bounded by single-bucket LSH exactly as in-batch: near-identical
    vectors land in the same bucket with high probability.

    `dim` is the embedding width, so the call is FULLY LAZY (no driver
    probes). EVERY row of BOTH sides is width-asserted inside the plan
    (dedup.width_checked), so a mixed-width snapshot -- e.g. weekly
    sinks unioned across an embedding-model change -- fails the job
    loudly instead of null-padding cosines and silently re-admitting
    near-duplicates. Rows with NULL embeddings are unmatchable and pass
    through to neither side (they can never be dropped as duplicates),
    so an empty or all-null new batch matches nothing."""
    planes = make_hyperplanes(dim, 10)

    def bucketed(df):
        vec = width_checked(F.col("embedding").cast("array<double>"),
                            "embedding", "dim", dim)
        return df.select(F.col("vec_id"), vec.alias("v")).withColumn(
            "bucket", hyperplane_bucket_col(F.col("v"), planes))

    return (
        block_seen_join(bucketed(new_emb), bucketed(seen_emb), ("bucket",),
                        max_bucket_size, observation)
        .select(
            F.col("new.vec_id").alias("new_id"),
            F.col("seen.vec_id").alias("seen_id"),
            F.round(cosine_col(F.col("new.v"), F.col("seen.v")), 6)
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.95)
    )


def dedup_against_seen_embedding(new_emb, seen_emb, dim, observation=None):
    """Drop new-batch rows whose embedding is a near-duplicate of the
    prior corpus snapshot (see embedding_seen_matches). Composes with
    dedup.dedup_against_seen (exact) and dedup.dedup_against_seen_minhash
    (text near-dup) as the third seen-loop family."""
    matches = embedding_seen_matches(
        new_emb, seen_emb, dim, max_bucket_size=1000,
        observation=observation,
    )
    return _drop_seen_matches(new_emb, matches, "vec_id")
