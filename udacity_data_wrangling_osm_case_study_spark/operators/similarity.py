"""Similarity search over embedding columns (array<float>).

Two paths:

- **Brute force** (the correctness baseline): broadcast the query
  vector, one codegen pass computing dot/norm per row, top-k via
  orderBy+limit (TakeOrderedAndProject — no global sort).
- **IVF** (the scale path): coarse-quantize vectors into cells
  (here: per-label centroids; at 100 TB, k-means cells), search only
  the ``n_probe`` nearest cells. Partition pruning for vectors: the
  scan + shuffle drop to n_probe/n_cells of the corpus.

All arithmetic is double-precision inside higher-order array
functions — no Python UDF; a 1000-executor scan streams at memory
bandwidth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators.iterative import snap_eager


def as_double_vec(col):
    return F.transform(col, lambda x: x.cast("double"))


def array_literal(xs):
    """(Nested) double-array literal built as ONE parsed SQL string.

    ``F.lit`` / per-element ``F.array(F.lit(...))`` construct the
    literal through py4j element by element — measured 1.4 s for an
    8x4x64 plane bank, PER USE, before any data moves. Rendering the
    same values as a single ``array(array(...))`` SQL string and
    letting the JVM parser build it costs ~5 ms. repr() round-trips
    doubles exactly, so the plan is bit-identical either way.
    """

    def render(v):
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        return f"{float(v)!r}D"

    return F.expr(render(xs))


def read_parquet_or_empty(spark, path: str, fallback_schema: str):
    """Read a persisted index relation, tolerating ONLY the
    EMPTY-build state: an index built from zero rows writes a
    directory with no part files, where schema inference fails
    (UNABLE_TO_INFER_SCHEMA) but "empty relation" is the correct
    answer. Every other analysis error — above all PATH_NOT_FOUND
    from a deleted or typo'd index_dir — re-raises: silently treating
    a missing index as empty would disable dedup/ANN without a trace
    (zero duplicates / zero neighbors reported as a clean result).
    With data present, inference keeps the builder's actual types
    (id/cell columns are caller-typed — a pinned schema here would
    reject legitimate builds)."""
    from pyspark.sql.utils import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        getter = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        cls = getter() if getter else None
        if cls == "UNABLE_TO_INFER_SCHEMA" or (
            cls is None and "UNABLE_TO_INFER_SCHEMA" in str(e)
        ):
            return spark.createDataFrame([], fallback_schema)
        raise


def dot(u, v):
    return F.aggregate(F.zip_with(u, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x)


def l2norm(u):
    return F.sqrt(F.aggregate(u, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(u, v):
    """Cosine similarity, zero-safe: a zero-norm operand yields 0.0
    (similar to nothing) instead of an ANSI division-by-zero error —
    at corpus scale a zero embedding (failed encoder, padded row) is a
    certainty, not a corner. The oracles encode the same convention as
    ``COALESCE(dot / NULLIF(norm_product, 0), 0)``."""
    den = l2norm(u) * l2norm(v)
    return F.coalesce(F.try_divide(dot(u, v), den), F.lit(0.0))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector."""
    q = array_literal(query_vec)
    v = as_double_vec(F.col("embedding"))
    sim = F.round(cosine(v, q), 4)
    return (
        df.select(F.col("vec_id").alias("id"), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), "id")
        .limit(k)
    )


def label_centroids(df: DataFrame) -> DataFrame:
    """Per-cell mean vector, via posexplode + per-dimension average.

    Rounded to 6 decimals so the centroid is stable across engines
    (float-sum association). Output: (cell, centroid array<double>).
    """
    comps = df.select(
        F.col("label").alias("cell"), F.posexplode(as_double_vec(F.col("embedding"))).alias("pos", "x")
    )
    per_dim = comps.groupBy("cell", "pos").agg(
        F.round(F.sum("x") / F.count("*"), 6).alias("m")
    )
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def build_ivf_index(
    df: DataFrame,
    index_dir: str,
) -> None:
    """Build the IVF index as a PERSISTED artifact (an ANN index is
    built once and queried many times — recomputing the coarse
    quantizer per query costs two full-corpus shuffles):

    - ``{index_dir}/centroids``: (cell, centroid) parquet — the coarse
      quantizer, tiny (one row per cell).
    - ``{index_dir}/vectors``: vectors partitioned BY CELL on disk
      (``partitionBy``), so a probe of ``n_probe`` cells reads only
      those cells' files — partition pruning in the scan, the on-disk
      analog of a Faiss inverted list.
    """
    cents = label_centroids(df)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    (
        df.select(
            F.col("label").alias("cell"),
            F.col("vec_id").alias("id"),
            as_double_vec(F.col("embedding")).alias("v"),
            F.lit("base").alias("batch_id"),
        )
        .write.mode("overwrite")
        # cell first: probes prune on the leading partition level;
        # batch_id nesting gives ivf_append retry idempotence (a
        # retried batch dynamically overwrites only its own
        # (cell, batch) partitions).
        .partitionBy("cell", "batch_id")
        .parquet(f"{index_dir}/vectors")
    )


def ivf_topk_indexed(
    spark,
    index_dir: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """ANN top-k against a persisted :func:`build_ivf_index` artifact.

    The quantizer probe collects only the ``n_probe`` winning cell ids
    to the driver (bounded, index metadata — the same role as Faiss's
    in-memory coarse quantizer); the literal IN-filter then prunes the
    vector scan to those cells' files (PartitionFilters in the plan).
    Corpus data itself never reaches the driver.
    """
    q = array_literal(query_vec)
    cents = read_parquet_or_empty(
        spark, f"{index_dir}/centroids", "cell int, centroid array<double>"
    )
    probed = [
        r.cell
        for r in (
            cents.withColumn("csim", F.round(cosine(F.col("centroid"), q), 4))
            .orderBy(F.desc("csim"), "cell")
            .limit(n_probe)
            .select("cell")
            .collect()
        )
    ]
    vecs = read_parquet_or_empty(
        spark,
        f"{index_dir}/vectors",
        "id bigint, v array<double>, cell int, batch_id string",
    ).filter(F.col("cell").isin(probed))
    sim = F.round(cosine(F.col("v"), q), 4)
    return (
        vecs.select("id", sim.alias("cosine"))
        .orderBy(F.desc("cosine"), "id")
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-style ANN: rank cells by centroid cosine, search only the
    ``n_probe`` best cells, exact cosine within them. Index-free
    variant (quantizer recomputed per call) — for repeated queries use
    :func:`build_ivf_index` + :func:`ivf_topk_indexed`."""
    q = array_literal(query_vec)
    cents = label_centroids(df)
    probed = (
        cents.withColumn("csim", F.round(cosine(F.col("centroid"), q), 4))
        .orderBy(F.desc("csim"), "cell")
        .limit(n_probe)
        .select("cell")
    )
    v = as_double_vec(F.col("embedding"))
    sim = F.round(cosine(v, q), 4)
    scored = df.select(
        F.col("label").alias("cell"), F.col("vec_id").alias("id"), sim.alias("cosine")
    )
    return (
        scored.join(F.broadcast(probed), "cell", "left_semi")
        .orderBy(F.desc("cosine"), "id")
        .limit(k)
        .select("id", "cosine")
    )


def kmeans_assign(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine:
    (id, cell, cos_bp).

    The centroid frame collapses to a ONE-ROW broadcast bank
    (collect_list of (cell, centroid) structs) and assignment is a
    row-local ``array_max`` argmax over the bank — ZERO shuffle. The
    obvious alternative (k-way scored crossJoin + per-vector argmax
    groupBy) shuffles k×n skinny rows, which at 10⁹ vectors is the
    dominant cost of every quantizer pass; this form touches only the
    scan. Cosines are quantized to basis points BEFORE the argmax
    (ties → smallest cell) so the assignment is deterministic and
    engine-portable — a last-ulp float difference can never flip it.
    """
    bank = centroids.groupBy().agg(
        F.collect_list(F.struct("cell", "centroid")).alias("bank")
    )
    v = as_double_vec(F.col("embedding"))
    wide = df.select(F.col("vec_id").alias("id"), v.alias("v")).crossJoin(
        F.broadcast(bank)
    )
    scored = F.transform(
        F.col("bank"),
        lambda c: F.struct(
            F.round(cosine(F.col("v"), c["centroid"]) * 10000)
            .cast("long")
            .alias("cos_bp"),
            (-c["cell"]).alias("nc"),
        ),
    )
    return wide.select("id", F.array_max(scored).alias("m")).select(
        "id",
        (-F.col("m.nc")).alias("cell"),
        F.col("m.cos_bp").alias("cos_bp"),
    )


def lloyd_step(
    df: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """One k-means (Lloyd) iteration: assign to nearest centroid, then
    recompute each cell's mean vector. Returns the new (cell, centroid)
    frame — same schema as the input, so iterations compose.

    Shuffle shape per iteration: one groupBy for the argmax, one
    posexplode+groupBy for the means — both keyed on bounded keys
    (vector id / (cell, dim)); the centroid set itself stays
    broadcast-sized. This is the standard distributed k-means cost.
    """
    assigned = kmeans_assign(df, centroids)
    with_cell = df.join(assigned.select("id", "cell"), F.col("vec_id") == F.col("id"))
    comps = with_cell.select(
        "cell", F.posexplode(as_double_vec(F.col("embedding"))).alias("pos", "x")
    )
    per_dim = comps.groupBy("cell", "pos").agg(
        F.round(F.sum("x") / F.count("*"), 6).alias("m")
    )
    updated = per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )
    # A cell that captured zero vectors has no group above and would
    # silently VANISH — every later iteration (and the final quantizer)
    # would run with k-1 cells. Keep the empty cell's previous centroid
    # instead (standard empty-cluster handling; both frames are k rows,
    # so the outer join is broadcast-sized).
    return (
        centroids.select("cell", F.col("centroid").alias("_prev"))
        .join(updated, "cell", "left")
        .select("cell", F.coalesce("centroid", "_prev").alias("centroid"))
    )


def train_quantizer(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 5,
) -> DataFrame:
    """Train the IVF coarse quantizer: deterministic seeding (the k
    lowest-id vectors — reproducible without RNG state; k-means++ would
    slot in here) then ``n_iter`` Lloyd iterations.

    Each round's centroid frame is localCheckpoint()ed: it is tiny
    (k rows) but feeds the next round's broadcast, and without the cut
    the plan lineage doubles per iteration (the connected-components
    lesson applied to the other iterative operator in the engine).
    """
    seeds = (
        df.orderBy(F.col("vec_id")).limit(k)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("rn"),
            as_double_vec(F.col("embedding")).alias("centroid"),
        )
        .select((F.col("rn") - 1).alias("cell"), "centroid")
    )
    centroids = seeds.transform(snap_eager)
    for _ in range(n_iter):
        centroids = lloyd_step(df, centroids).transform(snap_eager)
    return centroids


def pq_subvectors(
    df: DataFrame,
    m: int = 4,
) -> DataFrame:
    """(id, s, sv): each vector split into ``m`` equal subvectors —
    one explode, row-local.

    PRECONDITION (as in Faiss PQ): the vector dimension must be
    divisible by ``m`` — the slice width is ``size(v) DIV m``, so a
    remainder would silently leave the trailing ``size(v) % m``
    dimensions out of every codeword and distance."""
    v = as_double_vec(F.col("embedding"))
    base = df.select(F.col("vec_id").alias("id"), v.alias("v"))
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.expr(
                    f"slice(v, {s} * (size(v) DIV {m}) + 1, size(v) DIV {m})"
                ).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return base.select("id", F.explode(subs).alias("x")).select(
        "id", F.col("x.s").alias("s"), F.col("x.sv").alias("sv")
    )


def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    ksub: int = 8,
) -> DataFrame:
    """Deterministic PQ codebooks: subspace ``s``'s codewords are the
    subvectors of the ``ksub`` lowest-id vectors (reproducible seeding,
    as in :func:`train_quantizer` — a production build runs Lloyd
    iterations per subspace on these seeds). Codewords are densely
    numbered 0..ksub-1 by id rank, NOT by raw id — seeding works for
    any id space (1-based, offset, sparse), not just ids 0..ksub-1.
    Output (s, cw, csv), ksub × m rows — always broadcast-sized."""
    seeds = (
        df.select(F.col("vec_id").alias("id"))
        .orderBy("id")
        .limit(ksub)
        # ksub rows: the rank window is bounded, never corpus-sized.
        .withColumn("cw", F.row_number().over(Window.orderBy("id")) - 1)
    )
    return (
        pq_subvectors(df, m)
        .join(F.broadcast(seeds), "id")
        .select(F.col("s"), F.col("cw"), F.col("sv").alias("csv"))
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    ksub: int = 8,
) -> DataFrame:
    """Product-quantization codes: (id, code) with code packing each
    subspace's nearest-codeword id into ``ksub``-ary digits — a dim-D
    float vector compresses to one integer (m·log2(ksub) bits), the
    memory trick that lets an IVF-PQ index hold billions of vectors.

    Distances are quantized to micro-units BEFORE the argmin (ties →
    lowest codeword id), so the encoding is deterministic and
    engine-portable. The codebook side is broadcast; the corpus side is
    one explode + one groupBy on (id) — no shuffle grows with m·ksub.
    """
    subs = pq_subvectors(df, m)
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("csv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = subs.join(F.broadcast(codebooks), "s").select(
        "id",
        "s",
        "cw",
        F.round(d2 * 1_000_000).cast("long").alias("d2_micro"),
    )
    best = (
        scored.groupBy("id", "s")
        .agg(F.min(F.struct(F.col("d2_micro"), F.col("cw"))).alias("b"))
        .select("id", "s", F.col("b.cw").alias("cw"))
    )
    return (
        best.groupBy("id")
        .agg(
            F.sum(
                F.col("cw") * F.pow(F.lit(ksub), F.col("s")).cast("long")
            ).alias("code")
        )
        .select("id", F.col("code").cast("bigint").alias("code"))
    )


# ---------------------------------------------------------------------------
# SRP-LSH (sign random projection / random-hyperplane LSH)
# ---------------------------------------------------------------------------

def srp_hyperplanes(
    n_tables: int, n_bits: int, dim: int
) -> list[list[list[float]]]:
    """Deterministic Rademacher (+/-1) hyperplanes for sign-random-
    projection LSH (Charikar, STOC 2002: sign(h . u) bits preserve
    angular similarity; Rademacher components satisfy the same
    Johnson-Lindenstrauss guarantees as Gaussians — Achlioptas 2003).

    Components derive from md5 of the (table, bit, dim) coordinates, so
    the identical planes are reproducible anywhere — in particular they
    can be inlined as literals into the engine plan AND an independent
    SQL oracle, with no RNG state or stored artifact to ship.
    """
    import hashlib

    def rad(t: int, p: int, d: int) -> float:
        digest = hashlib.md5(f"srp:{t}:{p}:{d}".encode()).digest()
        return 1.0 if digest[0] & 1 else -1.0

    return [
        [[rad(t, p, d) for d in range(dim)] for p in range(n_bits)]
        for t in range(n_tables)
    ]


def srp_signature(vec, planes: list[list[float]]):
    """Bit-string signature of one LSH table: one sign bit per plane."""
    bits = [
        F.when(dot(vec, F.lit(plane)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def srp_all_signatures(vec, planes: list[list[list[float]]]):
    """array<string>: the vector's signature in EVERY table, as one
    expression over a single nested array literal.

    The whole T x B plane bank rides in the plan as ONE literal
    (``F.lit`` of the nested list) walked by two nested lambdas —
    building one expression per plane instead costs T x B lambda/when
    driver round-trips and ~3 s of plan construction at T=8, B=4
    (measured; execution work is identical either way)."""
    return F.transform(
        array_literal(planes),
        lambda tbl: F.array_join(
            F.transform(
                tbl,
                lambda plane: F.when(dot(vec, plane) >= 0, F.lit("1")).otherwise(
                    F.lit("0")
                ),
            ),
            "",
        ),
    )


def srp_buckets(
    df: DataFrame,
    planes: list[list[list[float]]],
) -> DataFrame:
    """(id, t, sig): each vector's bucket in every LSH table.

    Row-local codegen (the hyperplanes ride in the plan as literals) —
    zero shuffles to build, so at 100 TB bucketing is a narrow map over
    the scan; only the candidate join below shuffles, on (t, sig) keys
    whose population is bounded by 2^n_bits per table.
    """
    v = as_double_vec(F.col("embedding"))
    return df.select(
        F.col("vec_id").alias("id"),
        F.posexplode(srp_all_signatures(v, planes)).alias("t0", "sig"),
    ).select("id", (F.col("t0")).alias("t"), "sig")


def srp_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    planes: list[list[list[float]]],
) -> DataFrame:
    """ANN top-10: candidates = vectors sharing >= 1 LSH bucket with the
    query in any table; exact cosine re-rank within the candidates.

    The scale shape: the corpus side is bucketed once (reusable across
    queries — persist ``srp_buckets`` keyed by (t, sig) for an index);
    per query the probe is L bucket lookups, so work scales with bucket
    occupancy, never the corpus.
    """
    q = array_literal(query_vec)
    # One literal-only row: (t, sig) buckets of the query.
    qb = (
        df.sparkSession.range(1)
        .select(F.posexplode(srp_all_signatures(q, planes)).alias("t0", "sig"))
        .select(F.col("t0").alias("t"), "sig")
    )
    cand = (
        srp_buckets(df, planes)
        .join(F.broadcast(qb), ["t", "sig"], "left_semi")
        .select("id")
        .distinct()
    )
    v = as_double_vec(F.col("embedding"))
    sim = F.round(cosine(v, q), 4)
    scored = df.select(F.col("vec_id").alias("id"), sim.alias("cosine"))
    return (
        scored.join(cand, "id", "left_semi")
        .orderBy(F.desc("cosine"), "id")
        .limit(10)
    )


def ivf_append(
    spark,
    df_new: DataFrame,
    index_dir: str,
    batch_id: str = "append",
) -> None:
    """Index MAINTENANCE: route new vectors into an existing IVF index
    without rebuilding it.

    New arrivals are assigned to their nearest EXISTING centroid
    (broadcast quantizer + deterministic quantized-cosine argmax — the
    same rule queries use to pick probe cells) and appended into the
    cell-partitioned vector store as its own ``batch_id`` partitions
    nested under each cell (only the touched cells gain files, and a
    RETRIED batch dynamically overwrites exactly its own partitions —
    idempotent under at-least-once drivers, mirroring
    ``dedup.dedup_index_append``). Queries see the new vectors
    immediately through the same partition-pruned scan; no full-corpus
    shuffle, no centroid retrain. Retrain (``build_ivf_index``) is the
    periodic compaction step once drift accumulates — the same
    build/maintain split every production ANN index uses.
    """
    cents = read_parquet_or_empty(
        spark, f"{index_dir}/centroids", "cell int, centroid array<double>"
    )
    assigned = kmeans_assign(df_new, cents)
    vecs = df_new.select(
        F.col("vec_id").alias("id"), as_double_vec(F.col("embedding")).alias("v")
    )
    (
        vecs.join(assigned.select("id", "cell"), "id")
        .select("cell", "id", "v", F.lit(batch_id).alias("batch_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "batch_id")
        .parquet(f"{index_dir}/vectors")
    )


def sq_minmax(df: DataFrame) -> DataFrame:
    """Per-dimension global (min, max) as two aligned arrays, one row.

    The training pass of scalar (int8-style) quantization. min/max are
    order-independent aggregates — no float-association rounding is
    needed for engine portability. Output broadcasts (2 x dim doubles).
    """
    comps = df.select(F.posexplode(as_double_vec(F.col("embedding"))).alias("pos", "x"))
    per_dim = comps.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return per_dim.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("maxs"),
    )


def sq_encode(
    df: DataFrame,
    stats: DataFrame,
) -> DataFrame:
    """Scalar-quantize each vector to per-dimension integer codes in
    [0, 255]: ``code_j = round((x_j - min_j) * 255 / (max_j - min_j))``
    (a constant dimension maps to 0).

    The uniform-affine compression arm beside product quantization
    (:func:`pq_encode`): 64 float32 components shrink to 64 bytes with
    no codebook training. The stats frame broadcasts; encoding is one
    row-local codegen pass — at 100 TB this is a map-only rewrite of
    the vector column. Output: ``(id, codes array<int>)``.
    """
    wide = df.select(
        F.col("vec_id").alias("id"), as_double_vec(F.col("embedding")).alias("v")
    ).crossJoin(F.broadcast(stats))
    code = F.transform(
        F.col("v"),
        lambda x, i: F.when(
            F.get(F.col("maxs"), i) == F.get(F.col("mins"), i), F.lit(0)
        ).otherwise(
            F.round(
                (x - F.get(F.col("mins"), i))
                * 255
                / (F.get(F.col("maxs"), i) - F.get(F.col("mins"), i))
            ).cast("int")
        ),
    )
    return wide.select("id", code.alias("codes"))


def ivf_compact(spark, index_dir: str) -> None:
    """Index lifecycle step 3 (build → append* → COMPACT): fold every
    appended ``(cell, batch)`` partition back into one ``base`` batch
    per cell, one scan-sized file per cell.

    Append-heavy indexes accumulate a parquet file per touched
    (cell, batch); probe latency then becomes file-open bound (the
    100 TB failure mode is thousands of KB files per cell). The
    rewrite is atomic (sibling-dir + rename swap — see
    ``layout.rewrite_partitioned_inplace``), costs one shuffle of
    exactly the index bytes, and changes no probe results: the same
    vectors land in the same cells. Centroid retrain is the separate,
    heavier ``build_ivf_index`` rebuild once assignment drift
    accumulates.
    """
    from udacity_data_wrangling_osm_case_study_spark.operators import layout

    layout.rewrite_partitioned_inplace(
        spark,
        f"{index_dir}/vectors",
        ["cell", "batch_id"],
        transform=lambda df: df.withColumn("batch_id", F.lit("base")),
        repartition_cols=["cell"],
    )


def pq_adc_topk(
    df: DataFrame,
    codebooks: DataFrame,
    query_df: DataFrame,
    m: int = 4,
    ksub: int = 8,
    k: int = 10,
    shortlist: int = 30,
) -> DataFrame:
    """PQ search via asymmetric distance computation (ADC — Jégou,
    Douze & Schmid 2011): the query stays a full-precision vector, the
    corpus stays ``m``-digit codes, and each candidate's approximate
    distance is a SUM OF TABLE LOOKUPS — one m·ksub lookup table (the
    query's distance to every codeword, built per query) replaces all
    vector arithmetic over the corpus.

    This is the search half of an IVF-PQ index: the scan touches only
    integer codes (no float vectors decoded), the LUT rides as a
    one-row broadcast bank, and the top-``shortlist`` by quantized
    approximate distance (id tie-break — deterministic cut) is
    re-ranked exactly against the original vectors, so only
    ``shortlist`` rows ever touch full-precision data.

    ``query_df``: one row, column ``q`` (array<double>). Output:
    (id, cosine_bp) top-``k`` by exact re-rank.
    """
    sub_w = f"(size(q) DIV {m})"
    qsubs = query_df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.expr(
                            f"slice(q, {s} * {sub_w} + 1, {sub_w})"
                        ).alias("qs"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x")
    ).select(F.col("x.s").alias("s"), F.col("x.qs").alias("qs"))
    d2 = F.aggregate(
        F.zip_with(F.col("qs"), F.col("csv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = codebooks.join(F.broadcast(qsubs), "s").select(
        (F.col("s") * ksub + F.col("cw")).alias("pos"),
        F.round(d2 * 1_000_000).cast("long").alias("d2_micro"),
    )
    bank = lut.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "d2_micro"))),
            lambda x: x["d2_micro"],
        ).alias("lut")
    )
    codes = pq_encode(df, codebooks, m, ksub)
    adc = " + ".join(
        f"element_at(lut, CAST({s * ksub} + ((code div {ksub ** s}) % {ksub}) + 1 AS INT))"
        for s in range(m)
    )
    approx = (
        codes.crossJoin(F.broadcast(bank))
        .select("id", F.expr(adc).alias("approx_d2"))
        .orderBy("approx_d2", "id")
        .limit(shortlist)
        .select("id")
    )
    vecs = df.select(
        F.col("vec_id").alias("id"), as_double_vec(F.col("embedding")).alias("v")
    ).join(approx, "id", "left_semi")
    bp = F.round(cosine(F.col("v"), F.col("q")) * 10000).cast("bigint")
    return (
        vecs.crossJoin(F.broadcast(query_df))
        .select("id", bp.alias("cosine_bp"))
        .orderBy(F.desc("cosine_bp"), "id")
        .limit(k)
    )


def jl_signs(k: int, dim: int) -> list[list[int]]:
    """Deterministic Rademacher (+/-1) projection matrix for
    Johnson-Lindenstrauss dimensionality reduction (Achlioptas 2003:
    +/-1 entries give the same distance-preservation guarantees as
    Gaussians). Same md5-coordinate derivation as
    :func:`srp_hyperplanes` — reproducible anywhere, inlinable as
    literals into both the engine plan and a SQL oracle — but returned
    as ints because the projection is evaluated in exact integer
    arithmetic over milli-quantized components."""
    import hashlib

    def rad(j: int, i: int) -> int:
        digest = hashlib.md5(f"jl:{j}:{i}".encode()).digest()
        return 1 if digest[0] & 1 else -1

    return [[rad(j, i) for i in range(dim)] for j in range(k)]


def jl_project_milli(vec, signs: list[list[int]]):
    """Row-local JL projection of a float vector: each output component
    is the exact BIGINT dot product of the milli-quantized input with
    one +/-1 row of ``signs`` — integer addition commutes, so the
    result is bit-identical in any engine and any evaluation order
    (a float dot product would ride on summation order). Returns an
    array<long> column of length len(signs); zero shuffle."""
    milli = F.transform(
        vec, lambda x: F.round(x.cast("double") * 1000).cast("long")
    )
    return F.transform(
        F.lit(signs),
        lambda row: F.aggregate(
            F.zip_with(milli, row, lambda x, s: x * s.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
