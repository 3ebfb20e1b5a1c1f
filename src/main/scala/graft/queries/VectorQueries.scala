package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorExpressions.{signProjection, vecDot}
import graft.ops.Relational.eager
import graft.queries.RelationalQueries.Q
import graft.tables.Tables

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * Numeric determinism: dot products fold left-to-right in DOUBLE in
  * both engines (Spark `aggregate` with 0.0 init ≡ DuckDB `list_reduce`,
  * since 0.0 + v == v exactly), sqrt is IEEE-correctly-rounded — so
  * cosine values are bit-identical and thresholds/rankings agree.
  *
  * Scale notes: brute-force variants broadcast the small side (query
  * set / centroid set); the IVF variant is the 100 TB path — assignment
  * is a broadcast join against centroids, search shuffles only within
  * the probed cluster's partition.
  */
object VectorQueries {

  /** Stable (non-temp) warehouse root for trained centroid models:
    * q141/q148's DuckDB oracles read the persisted model parquet, and
    * the oracle runs after this JVM (and its temp-dir shutdown hooks)
    * has exited. target/ is build-output space (gitignored); each run
    * replaces its model table.
    */
  private val CentroidWh = s"${Catalog.root}/graft_centroids"

  /** Warehouse root for trained PQ codebooks (q163 — same oracle
    * lifetime rationale as [[CentroidWh]]).
    */
  private val PqWh = s"${Catalog.root}/graft_pq"

  /** Codegen'd native dot product (graft.functions.VecDot) — the HOF
    * form `aggregate(zip_with(...))` is interpreted and dominated the
    * all-pairs join at bench scale. Fold order and null semantics are
    * identical, so the DuckDB oracles are unchanged.
    */
  private def dot(a: Column, b: Column): Column = vecDot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** DuckDB dot product matching [[dot]]'s fold order exactly. */
  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a)+1),
        k -> CAST($a[k] AS DOUBLE) * CAST($b[k] AS DOUBLE)), (x, y) -> x + y)"""

  /** Left-to-right double dot product — the exact fold order of
    * [[dot]]/VecDot, in plain Scala for the q33 kernel.
    */
  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Spark's Round(HALF_UP-on-decimal-string) semantics for doubles —
    * replicated so the kernel's cosine bits match the Column form.
    */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Tiles per side for the q33 block-nested-loop. The vector set is cut
    * into B blocks; every unordered block pair (i ≤ j) is one tile, so
    * each task's working set is ≤ 2·N/B vectors regardless of total N.
    * Scale by raising B (tasks grow as B², per-task memory shrinks as
    * 1/B) — no driver-side collect anywhere in the plan.
    */
  private val CosineTiles = 8

  /** Exact all-pairs cosine ≥ `threshold`, block-tiled: each vector is
    * shuffled into the `tiles` tiles whose block-pair contains its block
    * (replication factor = tiles — at 100 TB that is B copies of the
    * vector column, not N² join rows), then flatMapGroups runs the
    * quadratic kernel inside one tile per task WITHOUT materializing
    * pair rows carrying two float arrays each (that intermediate was
    * pure GC churn in the equi-join form: 3–17 s of run-to-run
    * variance). Only surviving pairs become rows. Per-task memory is
    * bounded by the tile size; the pair-evaluation work is inherently
    * quadratic in N — prefer the IVF/LSH paths (q35/q30) when
    * approximate recall is acceptable.
    *
    * `df` must have columns (vec_id: long, embedding: array<float>).
    */
  def cosinePairsTiled(df: DataFrame, tiles: Int, threshold: Double): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val B = tiles
    val blkOf = (id: Long) => (((id % B) + B) % B).toInt
    df.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val b = blkOf(id)
        (0 until B).iterator.map { o =>
          val (i, j) = if (o < b) (o, b) else (b, o)
          (i * B + j, id, v)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (tileId: Int, it: Iterator[(Int, Long, Array[Float])]) =>
        val i = tileId / B; val j = tileId % B
        val rows = it.map { case (_, id, v) => (id, v) }.toArray
        val as = rows.filter { case (id, _) => blkOf(id) == i }
        val bs = if (i == j) as else rows.filter { case (id, _) => blkOf(id) == j }
        val bNorms = bs.map { case (_, v) => math.sqrt(dotD(v, v)) }
        // Each unordered cross pair appears exactly once per tile, but
        // not necessarily with the a-side id smaller — canonicalize to
        // (min, max) instead of filtering (a plain da < db filter would
        // silently drop pairs whose a-side id is the larger one). The
        // diagonal tile (i == j) enumerates both orders, so there the
        // filter IS the dedup. dotD is fold-order-symmetric (same index
        // order, commutative multiply), so the cosine bits are
        // identical either way.
        as.iterator.flatMap { case (ida, va) =>
          val na = math.sqrt(dotD(va, va))
          bs.iterator.zipWithIndex
            .filter { case ((idb, _), _) => if (i == j) ida < idb else true }
            .map { case ((idb, vb), k) =>
              (math.min(ida, idb), math.max(ida, idb),
                round6(dotD(va, vb) / (na * bNorms(k))))
            }
            .filter(_._3 >= threshold)
        }
      }
      .toDF("da", "db", "cosine")
  }

  val q33CosinePairs = Q("q33_cosine_pairs",
    // embedding-cosine near-dup: exact all pairs ≥ 0.45 via the tiled
    // kernel above — no driver collect, per-task memory O(N/tiles)
    (s, d) => cosinePairsTiled(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      CosineTiles, 0.45)
      .orderBy(col("da"), col("db")),
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        p AS (SELECT a.vec_id AS da, b.vec_id AS db,
          round(${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6)
            AS cosine
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT da, db, cosine FROM p WHERE cosine >= 0.45 ORDER BY da, db"""))

  val q34AnnTopk = Q("q34_ann_topk",
    // brute-force cosine top-k (k=5) for 10 query vectors; ties broken
    // by neighbor id for determinism
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6)
            .as("cosine"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 10),
        scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          round(${duckDot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cosine
          FROM e JOIN q ON e.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
      SELECT query_id, rank, neighbor_id, cosine FROM r
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  val q35AnnIvf = Q("q35_ann_ivf",
    // IVF skeleton: coarse centroids (every 97th vector), assign all
    // vectors to nearest centroid (broadcast join — no shuffle of the
    // big side), then search queries only within their own cluster.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val cents = e.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"),
          col("nrm").as("cn"))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cid"))
      val assigned = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
          (dot(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("csim"))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("cid").as("cluster_id"))
        .transform(eager) // consumed twice: query extraction + cluster search
      val q = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("cluster_id"))
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      assigned.join(broadcast(q), Seq("cluster_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("cluster_id"),
          col("vec_id").as("neighbor_id"),
          round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6)
            .as("cosine"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("cluster_id"), col("rank"),
          col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn
                  FROM e WHERE vec_id % 97 = 0),
        sim AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) AS csim,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, nrm, cid AS cluster_id
                     FROM sim WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cluster_id
              FROM assigned WHERE vec_id < 5),
        scored AS (SELECT q.query_id, a.cluster_id, a.vec_id AS neighbor_id,
          round(${duckDot("q.qe", "a.embedding")} / (q.qn * a.nrm), 6) AS cosine
          FROM assigned a JOIN q ON a.cluster_id = q.cluster_id
          WHERE a.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
      SELECT query_id, cluster_id, rank, neighbor_id, cosine FROM r
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q75VectorNorms = Q("q75_vector_norms",
    // per-label embedding statistics: L2 norms via the codegen'd VecDot
    // self-dot (bit-identical fold order to DuckDB's list_reduce, see
    // object scaladoc), quantized to DECIMAL(18,6) per row BEFORE the
    // group-sum so the aggregate is addition-order-independent (the q46
    // lesson — double sums differ in the last ulp across partitionings).
    // Expression-only per row + one partial-agg shuffle on label: the
    // shape that feeds embedding-table QC dashboards at corpus scale.
    (s, d) => Tables.embeddings(s, d)
      .select(col("label"),
        sqrt(vecDot(col("embedding"), col("embedding")))
          .cast(DecimalType(18, 6)).as("nrm"),
        // float → DOUBLE → decimal: both engines then quantize the same
        // exact binary value (a direct float→decimal cast rounds the
        // float's shortest decimal form in DuckDB but its double
        // expansion in Spark — off-by-one-ulp at the 6th decimal)
        element_at(col("embedding"), 1).cast(DoubleType)
          .cast(DecimalType(18, 6)).as("d0"))
      .groupBy(col("label"))
      // decimal through the aggregate (order-independent), one final
      // deterministic cast to double for cross-engine formatting parity
      .agg(count(lit(1)).as("n"),
        sum(col("nrm")).cast(DoubleType).as("sum_norm"),
        min(col("nrm")).cast(DoubleType).as("min_norm"),
        max(col("nrm")).cast(DoubleType).as("max_norm"),
        sum(col("d0")).cast(DoubleType).as("sum_dim0"))
      .orderBy(col("label")),
    Some(s"""WITH e AS (SELECT label,
        CAST(sqrt(${duckDot("embedding", "embedding")}) AS DECIMAL(18,6))
          AS nrm,
        CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(18,6)) AS d0
      FROM embeddings)
      SELECT label, COUNT(*) AS n,
        CAST(SUM(nrm) AS DOUBLE) AS sum_norm,
        CAST(MIN(nrm) AS DOUBLE) AS min_norm,
        CAST(MAX(nrm) AS DOUBLE) AS max_norm,
        CAST(SUM(d0) AS DOUBLE) AS sum_dim0
      FROM e GROUP BY label ORDER BY label"""))

  /** Bits per LSH band for q99 (4 bands × 8 bits from one 32-bit
    * signature); max members a band bucket may have before it is
    * dropped whole (the q30 cap, same rationale — the candidate
    * self-join is quadratic in bucket size). Shared with the oracle.
    */
  private val LshBandBits = 8
  private val LshBands = 4
  private val LshBandCap = 64L

  val q99EmbedLsh = Q("q99_embed_lsh",
    // Embedding near-dup detection via random-hyperplane LSH (the
    // cosine analogue of q30's MinHash banding): one codegen'd
    // SignProjection pass packs 32 sign bits per vector, 4 bands of 8
    // bits group candidates, exact cosine verifies candidates only.
    // Unlike q33's all-pairs kernel this never evaluates n² pairs —
    // the work is one expression pass + one band-key equi-join whose
    // per-key output is bounded by the bucket cap². The projection is
    // integer-exact (see SignProjection scaladoc) so the DuckDB oracle
    // replays the identical signature, banding and candidate set.
    (s, d) => {
      // persisted: feeds the band explode and both sides of the
      // candidate cosine verify — one projection pass total
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"),
          signProjection(col("embedding"), LshBandBits * LshBands).as("sig"))
        .transform(eager)
      val bandCols = (0 until LshBands).map { k =>
        struct(lit(k).as("band"),
          shiftright(col("sig"), LshBandBits * k)
            .bitwiseAND(lit((1L << LshBandBits) - 1)).as("sig"))
      }
      val exploded = e
        .select(col("vec_id").as("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
      val cand = TextQueries.cappedBandCandidates(exploded, LshBandCap)
      cand
        .join(e.select(col("vec_id").as("da"), col("embedding").as("va"),
          col("nrm").as("na")), Seq("da"))
        .join(e.select(col("vec_id").as("db"), col("embedding").as("vb"),
          col("nrm").as("nb")), Seq("db"))
        .select(col("da"), col("db"),
          round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("cosine"))
        .filter(col("cosine") >= 0.3)
        .orderBy(col("da"), col("db"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings WHERE embedding IS NOT NULL),
        dims AS (SELECT vec_id, n, i.i AS i,
          CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q
          FROM e, range(0, 64) i(i) WHERE i.i < n),
        sums AS (SELECT vec_id, j.j AS j,
          sum(CASE WHEN (n * j.j + i + 1) * 2654435761 % 1000000007 % 2 = 0
                   THEN q ELSE -q END) AS s
          FROM dims, range(0, 32) j(j) GROUP BY vec_id, j.j),
        bands AS (SELECT vec_id, j // 8 AS band,
          sum(CASE WHEN s >= 0 THEN 1 << (j % 8) ELSE 0 END) AS sig
          FROM sums GROUP BY vec_id, j // 8),
        hot AS (SELECT band, sig FROM bands
                GROUP BY band, sig HAVING count(*) > 64),
        capped AS (SELECT * FROM bands b WHERE NOT EXISTS
                   (SELECT 1 FROM hot h
                    WHERE h.band = b.band AND h.sig = b.sig)),
        cand AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
                 FROM capped a JOIN capped b
                 ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
        p AS (SELECT da, db,
          round(${duckDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm), 6)
            AS cosine
          FROM cand JOIN e x ON x.vec_id = da JOIN e y ON y.vec_id = db)
      SELECT da, db, cosine FROM p WHERE cosine >= 0.3 ORDER BY da, db"""))

  val q130QuantizeEmbed = Q("q130_quantize_embed",
    // int8 scalar quantization of the embedding column — the storage
    // operator for vector corpora: 4 bytes/dim float32 → 1 byte/dim
    // plus one scale per vector (75% smaller at 100 TB, and int8 dot
    // products are what ANN serving kernels run on). Per-vector
    // symmetric scheme: scale = 127/max|v|, q_i = floor(v_i*scale+0.5)
    // — the explicit floor(+0.5) form because Spark's round() is
    // HALF_UP while DuckDB's is HALF_EVEN, and quantization must be
    // bit-identical cross-engine. All expression work inside codegen,
    // zero shuffles. The result pins the quantized array via its exact
    // sum/min/max and the reconstruction-error bound (≤ maxabs/254 by
    // construction, asserted as a rounded max).
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("maxabs", array_max(transform(col("embedding"),
          x => abs(x.cast(DoubleType)))))
        .filter(col("maxabs") > 0)
        .withColumn("qv", transform(col("embedding"),
          x => floor(x.cast(DoubleType) * (lit(127.0) / col("maxabs")) + 0.5)
            .cast(IntegerType)))
      e.select(col("vec_id"),
          size(col("qv")).as("n_dims"),
          aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("sum_q"),
          array_min(col("qv")).as("min_q"),
          array_max(col("qv")).as("max_q"),
          round(array_max(zip_with(col("embedding"), col("qv"),
            (v, q) => abs(v.cast(DoubleType) -
              q.cast(DoubleType) * col("maxabs") / 127.0))), 6).as("max_err"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH t AS (SELECT vec_id, embedding,
          list_max(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        FROM embeddings),
      q AS (SELECT vec_id, embedding, maxabs,
          list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5)
                 AS INTEGER)) AS qv
        FROM t WHERE maxabs > 0)
      SELECT vec_id, len(qv) AS n_dims,
        CAST(list_sum(qv) AS BIGINT) AS sum_q,
        list_min(qv) AS min_q, list_max(qv) AS max_q,
        round(list_max(list_transform(range(1, len(qv)+1),
          k -> abs(CAST(embedding[k] AS DOUBLE)
               - CAST(qv[k] AS DOUBLE) * maxabs / 127.0))), 6) AS max_err
      FROM q ORDER BY vec_id"""))

  val q141SemDedup = Q("q141_semdedup",
    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    // deduplication at web scale: cluster the embedding space coarsely,
    // then compare pairs ONLY within each cluster and greedily drop
    // every vector that duplicates (cosine ≥ threshold) a lower-id
    // keeper. The cluster bound is what makes the operator scale —
    // pair work is Σ size² over clusters, never N², and the k is
    // chosen so clusters stay ~√N (the paper's design point; the
    // degenerate giant-cluster case falls back to q33's tiled kernel).
    // The cluster model is ops.VectorOps.kmeansFit at FIXED k=16 —
    // the broadcast is k×dim, CONSTANT in corpus size (the %97 scheme
    // this replaced grew the centroid set and the N²/97 assignment
    // work linearly with N) — and since round 7 it is TRAINED
    // (iters=2 Lloyd refinement), not the bare seed rule: untrained
    // centroids risk one mega-cluster whose Σ size² pair work quietly
    // reintroduces the N² SemDeDup exists to avoid (KmeansSkewSpec
    // pins the skew drop on a planted-degenerate fixture). The oracle
    // stays exact because the TRAINED model persists as a warehouse
    // table at a stable path and DuckDB reads that same parquet —
    // gating assignment + pair math, not training: Lloyd's per-dim
    // `avg` is a double sum whose bits depend on merge order (the q46
    // lesson), so the oracle must consume the model, never re-derive
    // it. float32 round-trips parquet exactly, and both engines fold
    // the cosine in the same order, so assignment is bit-identical.
    // Cosine rounds to 6 dp before the threshold compare (the q33
    // convention) so the keep/drop decision can't flip on a last-ulp
    // disagreement.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      graft.ops.VectorOps.saveCentroids(s,
        graft.ops.VectorOps.kmeansFit(
          e.select(col("vec_id"), col("embedding")), k = 16, iters = 2),
        CentroidWh + "/q141")
      val cents = graft.ops.VectorOps.loadCentroids(s, CentroidWh + "/q141")
      // LongType cluster ids: the oracle's cluster_id is read as BIGINT
      // and the driver's schema compare is type-sensitive
      val assigned = graft.ops.VectorOps.assignClusters(e, cents)
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .transform(eager) // consumed twice: both sides of the pair join
      val dropped = assigned.as("a").join(assigned.as("b"),
          col("a.cluster_id") === col("b.cluster_id") &&
            col("a.vec_id") < col("b.vec_id"))
        .filter(round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 6) >= 0.45)
        .select(col("b.vec_id").as("vec_id")).distinct()
        .withColumn("is_dropped", lit(true))
      assigned.select(col("vec_id"), col("cluster_id"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster_id"),
          coalesce(col("is_dropped"), lit(false)).as("is_dropped"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_centroids/q141/*.parquet')),
        sim AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, nrm, cid AS cluster_id
                     FROM sim WHERE rn = 1),
        dropped AS (SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE round(${duckDot("a.embedding", "b.embedding")}
            / (a.nrm * b.nrm), 6) >= 0.45)
      SELECT a.vec_id, a.cluster_id,
        d.vec_id IS NOT NULL AS is_dropped
      FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
      ORDER BY a.vec_id"""))

  val q148IncrementalIvf = Q("q148_incremental_ivf",
    // incremental IVF index MAINTENANCE — the vector-ingestion twin of
    // q136's incremental dedup: the index is a warehouse table
    // partitioned by cluster_id; a late-arriving vector batch is
    // assigned against the FROZEN centroid model (per-vector
    // assignment is independent, so incremental == all-at-once by
    // construction — exactly why IVF ingestion never re-indexes the
    // corpus) and scope-merged into ONLY its touched cluster dirs
    // (Load.upsertPartitioned; untouched clusters stay byte-identical
    // per ScopedMergeSpec). Top-k search then runs q35's shape against
    // the merged index. The centroid model is kmeansFit TRAINED
    // (iters=2) over the BOOTSTRAP set only (the model predates the
    // batch, as production models do — the frozen-model contract is
    // what makes incremental ≡ all-at-once); it persists as a
    // warehouse table at a stable path and the oracle reads that SAME
    // parquet, gating assignment + merge + search rather than
    // training (Lloyd mean bits are merge-order-dependent, so the
    // oracle must consume the model, never re-derive it). At scale
    // the merge cost is O(batch) + one small dir rewrite per touched
    // cluster, never O(index).
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val boot = e.filter(col("vec_id") % 7 =!= 3)
      val batch = e.filter(col("vec_id") % 7 === 3)
      graft.ops.VectorOps.saveCentroids(s,
        graft.ops.VectorOps.kmeansFit(
          boot.select(col("vec_id"), col("embedding")), k = 16, iters = 2),
        CentroidWh + "/q148")
      val cents = graft.ops.VectorOps.loadCentroids(s, CentroidWh + "/q148")
      def assign(df: DataFrame): DataFrame =
        graft.ops.VectorOps.assignClusters(df, cents)
          .withColumn("cluster_id", col("cluster_id").cast(LongType))
      val wh = PipelineQueries.tempRoot("graft_q148") + "/ivf"
      graft.etl.Load.upsertPartitioned(s, assign(boot), wh, "vec_id",
        dayCol = "cluster_id")
      graft.etl.Load.upsertPartitioned(s, assign(batch), wh, "vec_id",
        dayCol = "cluster_id")
      val index = s.read.parquet(wh)
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("cluster_id").cast(LongType).as("cluster_id"))
      val q = assign(e.filter(col("vec_id") < 5))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("cluster_id"))
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      index.join(broadcast(q), Seq("cluster_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("cluster_id"),
          col("vec_id").as("neighbor_id"),
          round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6)
            .as("cosine"))
        .withColumn("rank", row_number().over(wRank).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("cluster_id"), col("rank"),
          col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_centroids/q148/*.parquet')),
        sim AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, nrm, cid AS cluster_id
                     FROM sim WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cluster_id
              FROM assigned WHERE vec_id < 5),
        scored AS (SELECT q.query_id, a.cluster_id, a.vec_id AS neighbor_id,
          round(${duckDot("q.qe", "a.embedding")} / (q.qn * a.nrm), 6) AS cosine
          FROM assigned a JOIN q ON a.cluster_id = q.cluster_id
          WHERE a.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
      SELECT query_id, cluster_id, rank, neighbor_id, cosine FROM r
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q150IvfPq = Q("q150_ivf_pq",
    // memory-bounded ANN: IVF with int8-RESIDUAL quantization (the
    // IVF-PQ/SQ shape — Jégou et al. 2011's coarse+residual split with
    // a scalar quantizer). q130 quantizes for storage but q35/q148
    // still search full floats; at 100 TB the index that fits in
    // executor memory is the quantized one. Index: assign each vector
    // to its trained centroid (iters=2 model, persisted, frozen — the
    // oracle reads the same parquet), quantize the RESIDUAL v−c to
    // int8 with a per-vector scale (residuals are small, so 8 bits of
    // them beat 8 bits of the raw vector). COARSE search scores
    // candidates in probed clusters against the RECONSTRUCTION
    // ĉ = c + q·scale only — int8+model arithmetic, never the float
    // table — and keeps top-C per query; RE-RANK joins ONLY those C
    // candidates back to the full-precision table for the exact
    // cosine top-k. All quantized math is integer-derived double
    // arithmetic in the same fold order in both engines, so coarse
    // candidate sets — and therefore the exact re-ranked top-k — are
    // oracle-replayable bit-exactly. Scale: coarse reads
    // (int8[dim] + 1 double) per vector ≈ 9/36 of the float payload;
    // the float table is touched for C rows per query, via join.
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      graft.ops.VectorOps.saveCentroids(s,
        graft.ops.VectorOps.kmeansFit(
          e.select(col("vec_id"), col("embedding")), k = 16, iters = 2),
        CentroidWh + "/q150")
      val cents = graft.ops.VectorOps.loadCentroids(s, CentroidWh + "/q150")
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val assigned = graft.ops.VectorOps.assignClusters(
          e.select(col("vec_id"), col("embedding")), cents)
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
      // quantize / probe / coarse / re-rank — the extracted operator
      // (ops/IvfPq), shared verbatim with the Stress 1M-vector A/B
      val index = graft.ops.IvfPq.quantizeIndex(assigned, cdf)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val probes = graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 4)
      val cand = graft.ops.IvfPq.coarseSearch(index, probes, topC = 10)
      graft.ops.IvfPq.rerank(cand, e, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_centroids/q150/*.parquet')),
        sim AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, nrm, cid AS cluster_id
                     FROM sim WHERE rn = 1),
        resid AS (SELECT a.vec_id, a.cluster_id, c.ce,
            list_transform(range(1, len(a.embedding) + 1),
              k -> CAST(a.embedding[k] AS DOUBLE) - CAST(c.ce[k] AS DOUBLE))
              AS res
          FROM assigned a JOIN cents c ON c.cid = a.cluster_id),
        qidx AS (SELECT vec_id, cluster_id, ce,
            list_max(list_transform(res, x -> abs(x))) AS maxabs,
            CASE WHEN list_max(list_transform(res, x -> abs(x))) > 0
              THEN list_transform(res, x -> CAST(floor(
                x * 127.0 / list_max(list_transform(res, y -> abs(y))) + 0.5)
                AS INTEGER))
              ELSE list_transform(res, x -> 0) END AS qr
          FROM resid),
        vh AS (SELECT vec_id, cluster_id,
            list_transform(range(1, len(qr) + 1),
              k -> CAST(ce[k] AS DOUBLE) + CAST(qr[k] AS DOUBLE) * maxabs
                   / 127.0) AS vhat
          FROM qidx),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 5),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 4),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, v.vec_id AS neighbor_id,
              ${duckDot("p.qe", "v.vhat")} /
                (p.qn * sqrt(${duckDot("v.vhat", "v.vhat")})) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ${duckDot("p.qe", "v.vhat")} /
                  (p.qn * sqrt(${duckDot("v.vhat", "v.vhat")})) DESC,
                v.vec_id) AS cr
            FROM vh v JOIN probes p ON v.cluster_id = p.cluster_id
            WHERE v.vec_id <> p.query_id) WHERE cr <= 10),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS coarse_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, coarse_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q156ClusterSample = Q("q156_cluster_sample",
    // cluster-balanced data pruning — the embedding-space sampling
    // step of modern data curation (Sorscher et al., "Beyond neural
    // scaling laws", NeurIPS 2022: prune the most PROTOTYPICAL
    // examples when data is abundant; DataComp, Gadre et al. 2023,
    // applies the same self-supervised-prototype recipe at web scale).
    // Cluster the space with the TRAINED k=16 model (iters=2 Lloyd,
    // persisted — the oracle consumes the model parquet, never
    // re-derives a Lloyd mean), rank each cluster's members by
    // cosine-to-centroid ASCENDING (least prototypical = hardest
    // kept first), and keep a sqrt quota per cluster
    // (ceil(sqrt(n_c)) — dense clusters are pruned hardest, sparse
    // ones survive whole, so the kept set is balanced across the
    // embedding space instead of mirroring its density). Shuffles:
    // assignment is a broadcast argmax (N rows exchanged once,
    // independent of k), then ONE window shuffle on cluster_id does
    // rank + count + quota together. Cosines round to 6 dp before
    // ranking (the q33 convention) so keep/prune never flips on a
    // last-ulp disagreement.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      graft.ops.VectorOps.saveCentroids(s,
        graft.ops.VectorOps.kmeansFit(
          e.select(col("vec_id"), col("embedding")), k = 16, iters = 2),
        CentroidWh + "/q156")
      val cents = graft.ops.VectorOps.loadCentroids(s, CentroidWh + "/q156")
      import s.implicits._
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .select(col("cluster_id").cast(LongType).as("cluster_id"),
          col("ce"), norm(col("ce")).as("cn"))
      val assigned = graft.ops.VectorOps.assignClusters(e, cents)
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .join(broadcast(cdf), Seq("cluster_id"))
        .withColumn("proto_cos",
          round(dot(col("embedding"), col("ce")) / (col("nrm") * col("cn")), 6))
      graft.ops.VectorOps.clusterBalancedSample(assigned)
        .select(col("vec_id"), col("cluster_id"), col("cluster_n"),
          col("proto_cos"), col("rk"), col("quota"), col("is_kept"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_centroids/q156/*.parquet')),
        sim AS (SELECT e.vec_id, c.cid,
          ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) AS cos_val,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, cid AS cluster_id,
            round(cos_val, 6) AS proto_cos
          FROM sim WHERE rn = 1),
        r AS (SELECT *,
            count(*) OVER (PARTITION BY cluster_id) AS cluster_n,
            row_number() OVER (PARTITION BY cluster_id
              ORDER BY proto_cos, vec_id) AS rk
          FROM assigned)
      SELECT vec_id, cluster_id, CAST(cluster_n AS BIGINT) AS cluster_n,
        proto_cos, CAST(rk AS BIGINT) AS rk,
        CAST(ceil(sqrt(cluster_n)) AS BIGINT) AS quota,
        rk <= ceil(sqrt(cluster_n)) AS is_kept
      FROM r ORDER BY vec_id"""))

  val q163PqCodebooks = Q("q163_pq_codebooks",
    // TRUE product quantization on IVF residuals (ops/Pq; Jégou et
    // al., TPAMI 2011 §III) — the codebook upgrade of q150's scalar
    // quantizer: the residual splits into m=8 subspaces and each
    // sub-vector becomes the id of its nearest codeword from a
    // per-subspace k-means codebook (ks=16 here; 256 at the Stress
    // scale), so the resident payload is m small ints per vector
    // instead of dim int8s + scale. Codebooks train DISTRIBUTED
    // (broadcast-join argmin with partial-agg reduction, means by
    // groupBy — only the codebook itself ever reaches the driver),
    // deterministically, and are PERSISTED; the oracle consumes the
    // codebook parquet (q141 rule) and re-derives codes,
    // reconstructions ĉ = c + concat(codewords), the coarse top-C and
    // the exact re-ranked top-k bit-exactly — encode's L2 argmin uses
    // the same left-to-right double fold in both engines.
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      graft.ops.VectorOps.saveCentroids(s,
        graft.ops.VectorOps.kmeansFit(
          e.select(col("vec_id"), col("embedding")), k = 16, iters = 2),
        CentroidWh + "/q163")
      val cents = graft.ops.VectorOps.loadCentroids(s, CentroidWh + "/q163")
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val assigned = graft.ops.VectorOps.assignClusters(
          e.select(col("vec_id"), col("embedding")), cents)
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
      val sub = graft.ops.Pq.subResiduals(assigned, cdf, m = 8)
      graft.etl.Load.replaceTable(s,
        graft.ops.Pq.trainCodebooks(s, sub, ks = 16, iters = 2),
        PqWh + "/q163")
      val cb = graft.etl.Load.readTable(s, PqWh + "/q163").get
      val index = graft.ops.Pq.encode(assigned, cdf, cb)
      val recon = graft.ops.Pq.reconstruct(index, cb, cdf)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val probes = graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 4)
      val cand = graft.ops.Pq.coarseSearch(recon, probes, topC = 10)
      graft.ops.IvfPq.rerank(cand, e, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_centroids/q163/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_pq/q163/*.parquet')),
        sim AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, nrm, cid AS cluster_id
                     FROM sim WHERE rn = 1),
        resid AS (SELECT a.vec_id, a.cluster_id,
            list_transform(range(1, len(a.embedding) + 1),
              k -> CAST(a.embedding[k] AS DOUBLE) - CAST(c.ce[k] AS DOUBLE))
              AS res
          FROM assigned a JOIN cents c ON c.cid = a.cluster_id),
        subr AS (SELECT vec_id, cluster_id, s.sub,
            res[s.sub * 8 + 1 : s.sub * 8 + 8] AS subres
          FROM resid, (SELECT unnest(range(0, 8)) AS sub) s),
        enc AS (SELECT vec_id, cluster_id, sub, code_id FROM (
            SELECT r.vec_id, r.cluster_id, r.sub, b.code_id,
              row_number() OVER (PARTITION BY r.vec_id, r.sub ORDER BY
                list_reduce(list_transform(range(1, len(r.subres) + 1),
                  k -> (r.subres[k] - b.cw[k]) * (r.subres[k] - b.cw[k])),
                  (x, y) -> x + y) ASC, b.code_id) AS rn
            FROM subr r JOIN cb b USING (sub)) WHERE rn = 1),
        rq AS (SELECT e2.vec_id, e2.cluster_id,
            flatten(list(b.cw ORDER BY e2.sub)) AS rq
          FROM enc e2 JOIN cb b
            ON b.sub = e2.sub AND b.code_id = e2.code_id
          GROUP BY e2.vec_id, e2.cluster_id),
        vh AS (SELECT r.vec_id, r.cluster_id,
            list_transform(range(1, len(r.rq) + 1),
              k -> CAST(c.ce[k] AS DOUBLE) + r.rq[k]) AS vhat
          FROM rq r JOIN cents c ON c.cid = r.cluster_id),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 5),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 4),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, v.vec_id AS neighbor_id,
              ${duckDot("p.qe", "v.vhat")} /
                (p.qn * sqrt(${duckDot("v.vhat", "v.vhat")})) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ${duckDot("p.qe", "v.vhat")} /
                  (p.qn * sqrt(${duckDot("v.vhat", "v.vhat")})) DESC,
                v.vec_id) AS cr
            FROM vh v JOIN probes p ON v.cluster_id = p.cluster_id
            WHERE v.vec_id <> p.query_id) WHERE cr <= 10),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS coarse_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, coarse_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q170AdcSearch = Q("q170_adc_search",
    // ADC — asymmetric distance computation (Jégou et al., TPAMI 2011
    // §IV.A) — the search-side completion of q163's PQ index: instead
    // of reconstructing ĉ = c + concat(codewords) for every probed
    // vector (an explode ×m → codebook join → groupBy re-assembly —
    // a probed-set-sized shuffle PER SEARCH, materializing 8·dim-byte
    // floats from an index that exists to avoid them), the query
    // precomputes dot(q, cw) for all m·ks codewords ONCE per probe
    // (fused PqLut — ≅ the cost of scanning ks full vectors) and each
    // indexed row then costs m primitive lookups (fused AdcSum):
    // cos ≈ (dot(q,c) + Σ_s lut[s·ks+code_s]) / (qn · ‖ĉ‖). The
    // query-independent ‖ĉ‖ is computed at BUILD time (fused
    // PqReconNorm, zero shuffle) and stored beside the codes, as
    // production IP/cosine PQ indexes do. The coarse scan therefore
    // reads only (codes, vn) — no explode, no join arithmetic, no
    // shuffle before the top-C window — and the exact re-rank over
    // top-C recovers the true top-k as in q150/q163. Every fold is
    // left-to-right in doubles, so the oracle replays the persisted
    // centroid + codebook models (q141 rule) through the SAME ADC
    // association bit-exactly.
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      graft.ops.VectorOps.saveCentroids(s,
        graft.ops.VectorOps.kmeansFit(
          e.select(col("vec_id"), col("embedding")), k = 16, iters = 2),
        CentroidWh + "/q170")
      val cents = graft.ops.VectorOps.loadCentroids(s, CentroidWh + "/q170")
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val assigned = graft.ops.VectorOps.assignClusters(
          e.select(col("vec_id"), col("embedding")), cents)
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
      val sub = graft.ops.Pq.subResiduals(assigned, cdf, m = 8)
      graft.etl.Load.replaceTable(s,
        graft.ops.Pq.trainCodebooks(s, sub, ks = 16, iters = 2),
        PqWh + "/q170")
      val cbDf = graft.etl.Load.readTable(s, PqWh + "/q170").get
      val cbSeq = graft.ops.Pq.collectCodebook(cbDf)
      val adcIdx = graft.ops.Pq.adcIndex(
        graft.ops.Pq.encode(assigned, cdf, cbDf), cdf, cbSeq)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 4), cdf, cbSeq)
      val cand = graft.ops.Pq.adcSearch(adcIdx, pl, topC = 10)
      graft.ops.IvfPq.rerank(cand, e, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine").as("adc_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_centroids/q170/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_pq/q170/*.parquet')),
        sim AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, nrm, cid AS cluster_id
                     FROM sim WHERE rn = 1),
        resid AS (SELECT a.vec_id, a.cluster_id,
            list_transform(range(1, len(a.embedding) + 1),
              k -> CAST(a.embedding[k] AS DOUBLE) - CAST(c.ce[k] AS DOUBLE))
              AS res
          FROM assigned a JOIN cents c ON c.cid = a.cluster_id),
        subr AS (SELECT vec_id, cluster_id, s.sub,
            res[s.sub * 8 + 1 : s.sub * 8 + 8] AS subres
          FROM resid, (SELECT unnest(range(0, 8)) AS sub) s),
        enc AS (SELECT vec_id, cluster_id, sub, code_id FROM (
            SELECT r.vec_id, r.cluster_id, r.sub, b.code_id,
              row_number() OVER (PARTITION BY r.vec_id, r.sub ORDER BY
                list_reduce(list_transform(range(1, len(r.subres) + 1),
                  k -> (r.subres[k] - b.cw[k]) * (r.subres[k] - b.cw[k])),
                  (x, y) -> x + y) ASC, b.code_id) AS rn
            FROM subr r JOIN cb b USING (sub)) WHERE rn = 1),
        rq AS (SELECT e2.vec_id, e2.cluster_id,
            flatten(list(b.cw ORDER BY e2.sub)) AS rq
          FROM enc e2 JOIN cb b
            ON b.sub = e2.sub AND b.code_id = e2.code_id
          GROUP BY e2.vec_id, e2.cluster_id),
        vn AS (SELECT r.vec_id, r.cluster_id,
            sqrt(list_reduce(list_transform(range(1, len(r.rq) + 1),
              k -> (CAST(c.ce[k] AS DOUBLE) + r.rq[k])
                 * (CAST(c.ce[k] AS DOUBLE) + r.rq[k])),
              (x, y) -> x + y)) AS vn
          FROM rq r JOIN cents c ON c.cid = r.cluster_id),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 5),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 4),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, e2.vec_id, e2.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[e2.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN enc e2 ON e2.cluster_id = p.cluster_id
            AND e2.vec_id <> p.query_id
          JOIN cb b ON b.sub = e2.sub AND b.code_id = e2.code_id),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              (p.qc + a.adcsum) / (p.qn * v.vn) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN vn v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 10),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS adc_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, adc_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q166HybridRrf = Q("q166_hybrid_rrf",
    // HYBRID retrieval fusion — the standard RAG serving shape: a
    // lexical BM25 list (q144's rational-idf conventions over
    // `documents`) and a dense cosine list (q34's brute-force kernel
    // over `embeddings`, query-by-example with vec 0) fused by
    // reciprocal-rank fusion (Cormack & Clarke, SIGIR 2009):
    // score(d) = Σ_lists 1/(60 + rank_list(d)), which needs NO score
    // calibration between the lists — only ranks cross the fusion
    // boundary, so the lexical micro-units and the cosine doubles
    // never have to share a scale. Each list is top-50 via
    // TakeOrderedAndProject (per-partition top-k + driver merge —
    // never a global sort); ranking then runs on the 50-row results,
    // so the single-partition row_number window is bounded by k, not
    // the corpus, and the fusion join moves 100 rows at any corpus
    // size. Docs appearing in only one list keep their one reciprocal
    // term (rank 0 = absent in the output). At 100 TB: two
    // independent scans (each already index-accelerable — q157 serves
    // the lexical list, q35/q150 the dense list), then driver-scale
    // fusion.
    (s, d) => {
      val terms = Seq("spark", "query", "merge")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("t"))).as("sum_dl") +:
          terms.zipWithIndex.map { case (term, i) =>
            sum(when(array_contains(col("t"), term), 1L).otherwise(0L))
              .as(s"df_$i")
          }: _*)
      val dl = size(col("t"))
      val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs")
      val lnorm = lit(0.25) + (lit(0.75) * dl) / avgdl
      val termScores = terms.zipWithIndex.map { case (term, i) =>
        val tf = size(filter(col("t"), x => x === lit(term)))
        val idf = (col("n_docs") - col(s"df_$i") + lit(0.5)) /
          (col(s"df_$i") + lit(0.5))
        idf * ((tf * lit(2.2)) / (tf + lit(1.2) * lnorm))
      }
      val lex = docs.crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(termScores.reduceLeft(_ + _), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(50)
        // rank = position in the 50-row limit's order, assigned on the
        // driver (no single-partition WindowExec)
        .transform(graft.ops.Relational.withLocalRank(s, _, "lex_rank"))
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val den = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")),
            6).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id")).limit(50)
        // 50-row frame — see lex_rank note
        .transform(graft.ops.Relational.withLocalRank(s, _, "dense_rank"))
      lex.select(col("doc_id"), col("lex_rank"))
        .join(den.select(col("doc_id"), col("dense_rank")),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
          coalesce(col("dense_rank"), lit(0)).as("dense_rank"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)),
            6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    },
    Some(s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
          FROM documents),
        stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl,
          sum(CASE WHEN list_contains(toks,'spark') THEN 1 ELSE 0 END) AS df_0,
          sum(CASE WHEN list_contains(toks,'query') THEN 1 ELSE 0 END) AS df_1,
          sum(CASE WHEN list_contains(toks,'merge') THEN 1 ELSE 0 END) AS df_2
          FROM t),
        sc AS (SELECT doc_id, round(
            (n_docs - df_0 + 0.5) / (df_0 + 0.5)
              * ((len(list_filter(toks, x -> x = 'spark')) * 2.2) /
                 (len(list_filter(toks, x -> x = 'spark')) + 1.2 *
                  (0.25 + (0.75 * len(toks)) /
                   (CAST(sum_dl AS DOUBLE) / n_docs))))
          + (n_docs - df_1 + 0.5) / (df_1 + 0.5)
              * ((len(list_filter(toks, x -> x = 'query')) * 2.2) /
                 (len(list_filter(toks, x -> x = 'query')) + 1.2 *
                  (0.25 + (0.75 * len(toks)) /
                   (CAST(sum_dl AS DOUBLE) / n_docs))))
          + (n_docs - df_2 + 0.5) / (df_2 + 0.5)
              * ((len(list_filter(toks, x -> x = 'merge')) * 2.2) /
                 (len(list_filter(toks, x -> x = 'merge')) + 1.2 *
                  (0.25 + (0.75 * len(toks)) /
                   (CAST(sum_dl AS DOUBLE) / n_docs)))),
            6) AS bm25 FROM t, stats),
        lexr AS (SELECT doc_id, row_number()
            OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
          FROM (SELECT doc_id, bm25 FROM sc
                ORDER BY bm25 DESC, doc_id LIMIT 50)),
        e AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings),
        q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
        dsc AS (SELECT e.vec_id AS doc_id,
            round(${duckDot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6)
              AS cosine
          FROM e, q),
        denr AS (SELECT doc_id, row_number()
            OVER (ORDER BY cosine DESC, doc_id) AS dense_rank
          FROM (SELECT doc_id, cosine FROM dsc
                ORDER BY cosine DESC, doc_id LIMIT 50)),
        f AS (SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
            l.lex_rank, r.dense_rank
          FROM lexr l FULL OUTER JOIN denr r ON l.doc_id = r.doc_id)
      SELECT doc_id,
        coalesce(lex_rank, 0) AS lex_rank,
        coalesce(dense_rank, 0) AS dense_rank,
        round(coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), 0)
            + coalesce(CAST(1 AS DOUBLE) / (60 + dense_rank), 0), 6) AS rrf
      FROM f ORDER BY rrf DESC, doc_id LIMIT 20"""))

  val q172AdcIngest = Q("q172_adc_ingest",
    // INCREMENTAL PQ/ADC index ingest (ops/AdcIngest) — the
    // vector-side twin of q168's corpus warehouse, completing the
    // index-maintenance story for the q163/q170 compressed-serving
    // stack: bootstrap trains + persists centroids and PQ codebooks
    // on the INITIAL corpus only, encodes it as `batch=0`; a later
    // vector batch then folds at O(batch) — assignment + fused
    // PqCodes/PqReconNorm encode under the FROZEN models, landed as
    // its own `batch=1` generation behind the exactly-once guard
    // (replayed id asserted a loud no-op in-run). Because per-vector
    // encode is independent, incremental ≡ one-shot rebuild
    // BIT-IDENTICALLY — which the oracle gates end-to-end: DuckDB
    // re-derives the encode of ALL vectors from the persisted models
    // alone and replays the ADC search, while Spark serves from the
    // appended warehouse generations. At scale: the historical index
    // is never re-read, the fold is zero-shuffle, and search costs
    // exactly q170's plan regardless of how many folds built the
    // index.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val wh = s"${Catalog.root}/graft_adc/q172"
      // Bootstrap (model train + batch=0 encode) ONCE per fixture
      // input (q168's marker pattern); every later pass exercises the
      // PRODUCTION lifecycle this gate exists for — rollback to
      // generation 0, fold batch 1 under the frozen models, replay
      // refusal — so the bench measures the O(batch) ingest, not the
      // train. Bootstrap fully wipes the dir, so a marker mismatch
      // can never resurrect a stale generation.
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          scala.util.Try(graft.ops.AdcIngest.rollback(s, wh, 0L)).isFailure) {
        graft.ops.AdcIngest.bootstrap(s,
          e.filter(col("vec_id") % 5 =!= 2), wh, k = 16, m = 8, ks = 16)
      }
      require(graft.ops.AdcIngest.append(s,
        e.filter(col("vec_id") % 5 === 2), wh, 1L), "batch 1 must land")
      require(!graft.ops.AdcIngest.append(s,
        e.filter(col("vec_id") % 5 === 2), wh, 1L),
        "replayed batch id must be a loud no-op")
      val cents = graft.ops.VectorOps.loadCentroids(s, wh + "/centroids")
      import s.implicits._
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 3), cdf, cbSeq)
      val cand = graft.ops.Pq.adcSearch(
        graft.ops.AdcIngest.index(s, wh), pl, topC = 12)
      graft.ops.IvfPq.rerank(cand, e, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine").as("adc_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q172/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q172/codebooks/*.parquet')),
        sim AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, nrm, cid AS cluster_id
                     FROM sim WHERE rn = 1),
        resid AS (SELECT a.vec_id, a.cluster_id,
            list_transform(range(1, len(a.embedding) + 1),
              k -> CAST(a.embedding[k] AS DOUBLE) - CAST(c.ce[k] AS DOUBLE))
              AS res
          FROM assigned a JOIN cents c ON c.cid = a.cluster_id),
        subr AS (SELECT vec_id, cluster_id, s.sub,
            res[s.sub * 8 + 1 : s.sub * 8 + 8] AS subres
          FROM resid, (SELECT unnest(range(0, 8)) AS sub) s),
        enc AS (SELECT vec_id, cluster_id, sub, code_id FROM (
            SELECT r.vec_id, r.cluster_id, r.sub, b.code_id,
              row_number() OVER (PARTITION BY r.vec_id, r.sub ORDER BY
                list_reduce(list_transform(range(1, len(r.subres) + 1),
                  k -> (r.subres[k] - b.cw[k]) * (r.subres[k] - b.cw[k])),
                  (x, y) -> x + y) ASC, b.code_id) AS rn
            FROM subr r JOIN cb b USING (sub)) WHERE rn = 1),
        rq AS (SELECT e2.vec_id, e2.cluster_id,
            flatten(list(b.cw ORDER BY e2.sub)) AS rq
          FROM enc e2 JOIN cb b
            ON b.sub = e2.sub AND b.code_id = e2.code_id
          GROUP BY e2.vec_id, e2.cluster_id),
        vn AS (SELECT r.vec_id, r.cluster_id,
            sqrt(list_reduce(list_transform(range(1, len(r.rq) + 1),
              k -> (CAST(c.ce[k] AS DOUBLE) + r.rq[k])
                 * (CAST(c.ce[k] AS DOUBLE) + r.rq[k])),
              (x, y) -> x + y)) AS vn
          FROM rq r JOIN cents c ON c.cid = r.cluster_id),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 4),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 3),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, e2.vec_id, e2.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[e2.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN enc e2 ON e2.cluster_id = p.cluster_id
            AND e2.vec_id <> p.query_id
          JOIN cb b ON b.sub = e2.sub AND b.code_id = e2.code_id),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              (p.qc + a.adcsum) / (p.qn * v.vn) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN vn v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 12),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS adc_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, adc_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q204AdcRetrain = Q("q204_adc_retrain",
    // MODEL RETRAIN — the drift responder the q194 recall audit exists
    // for (AdcIngest.retrain): quantization models frozen at bootstrap
    // degrade as the ingested distribution drifts (q194's reversed-
    // embedding wave), and the answer is re-fitting centroids/
    // codebooks on the CURRENT live vectors and re-encoding every
    // generation behind ONE crash-safe root swap — high-water mark,
    // tombstone ledger and per-generation membership all surviving
    // (a full re-bootstrap destroys all three). Lifecycle (once per
    // fixture, the q192/q194 de-distortion rule): bootstrap on the
    // raw wave, append two more — the third TRUNCATED to an 8-dim
    // subspace (zeroing the other 56 coords: an arithmetic-free,
    // cross-engine-exact transform that is genuinely out of the
    // trained distribution — the old codebooks' residual geometry
    // cannot represent the -centroid tail in the zeroed dims, which
    // is what real embedding-model upgrades do to a frozen PQ).
    // Measure recall@5 of ADC serving vs exact cosine under the OLD
    // models,
    // retrain on the full drifted universe, require in-query that
    // recall IMPROVED and the high-water mark + model epoch moved as
    // contracted. Every later pass serves post-retrain ADC search.
    // The oracle replays the ENTIRE post-retrain serving chain from
    // the persisted NEW models — assignment, residual PQ encode, ADC,
    // exact rerank (the q172 shape) — so the re-encoded warehouse is
    // gated against an independent re-derivation, not trusted.
    // At 100 TB: retrain is one train over a sample + one linear
    // re-encode pass (broadcast models, zero shuffles) + the swap;
    // OLD generations are never merged or reshuffled, only re-encoded
    // in place.
    (s, d) => {
      val k = 5
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val uni = e0.select(col("vec_id"),
          when(col("vec_id") % 3 === 2,
            transform(col("embedding"),
              (x, i) => when(i < 8, x).otherwise(lit(0.0f))))
            .otherwise(col("embedding")).as("embedding"))
        .withColumn("nrm", norm(col("embedding")))
        .withColumn("gen", pmod(col("vec_id"), lit(3L)))
      val wh = s"${Catalog.root}/graft_adc/q204"
      val ai = graft.ops.AdcIngest
      // recall@k of the warehouse's ADC serving against exact cosine
      // over the live universe, under the models CURRENTLY persisted
      // at wh — measured pre- and post-retrain with the same queries
      def recallMicro(q: DataFrame): Long = {
        import s.implicits._
        val cdf = graft.ops.VectorOps.loadCentroids(s, wh + "/centroids")
          .toSeq.toDF("cluster_id", "ce")
          .withColumn("cluster_id", col("cluster_id").cast(LongType))
          .withColumn("cn", norm(col("ce")))
        val cbSeq = graft.ops.Pq.collectCodebook(
          graft.etl.Load.readTable(s, wh + "/codebooks").get)
        val pl = graft.ops.Pq.probeLuts(
          graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 2), cdf, cbSeq)
        val srv = graft.ops.IvfPq.rerank(
            graft.ops.Pq.adcSearch(ai.index(s, wh), pl, topC = 16),
            uni, topK = k)
          .select(col("query_id"), col("neighbor_id"))
        val wEx = Window.partitionBy(col("query_id"))
          .orderBy(col("exc").desc, col("vec_id"))
        val ex = uni.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")),
              6).as("exc"))
          .withColumn("erank", row_number().over(wEx))
          .filter(col("erank") <= k)
        srv.join(broadcast(ex.select(col("query_id"),
            col("vec_id").as("neighbor_id"))),
          Seq("query_id", "neighbor_id"))
          .agg(coalesce(sum(lit(1000000L / k)), lit(0L))).head().getLong(0)
      }
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          scala.util.Try(ai.lastBatch(s, wh)).getOrElse(-1L) != 2L ||
          ai.modelEpoch(s, wh) != 1L) {
        ai.bootstrap(s, uni.filter(col("gen") === 0)
          .select(col("vec_id"), col("embedding")), wh,
          k = 16, m = 8, ks = 16)
        ai.append(s, uni.filter(col("gen") === 1)
          .select(col("vec_id"), col("embedding")), wh, 1L)
        ai.append(s, uni.filter(col("gen") === 2)
          .select(col("vec_id"), col("embedding")), wh, 2L)
        // audit queries FROM the drifted wave — where the old models
        // hurt most and the retrained ones must recover
        val q = uni.filter(col("gen") === 2 && col("vec_id") % 37 === 2)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        val pre = recallMicro(q)
        require(ai.retrain(s,
          uni.select(col("vec_id"), col("embedding")), wh,
          k = 16, m = 8, ks = 16) > 0, "retrain re-encoded nothing")
        val post = recallMicro(q)
        require(post > pre,
          s"retrain must restore drifted-wave recall ($pre -> $post)")
        require(ai.lastBatch(s, wh) == 2L && ai.modelEpoch(s, wh) == 1L,
          "the high-water mark must survive and the model epoch advance")
        require(scala.util.Try(ai.readAsOf(s, wh, 1L)).isFailure,
          "a cross-epoch as-of cut must be refused after retrain")
      }
      // served output every pass: post-retrain ADC top-3 for fixed
      // drifted-wave queries — the oracle re-derives it from the
      // persisted NEW models alone
      import s.implicits._
      val cdf = graft.ops.VectorOps.loadCentroids(s, wh + "/centroids")
        .toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val q = uni.filter(col("gen") === 2 && col("vec_id") < 40)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 3), cdf, cbSeq)
      val cand = graft.ops.Pq.adcSearch(ai.index(s, wh), pl, topC = 12)
      graft.ops.IvfPq.rerank(cand, uni, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine").as("adc_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
        uni AS (SELECT vec_id,
            CASE WHEN vec_id % 3 = 2 THEN
              list_transform(range(1, len(embedding) + 1),
                k -> CASE WHEN k <= 8 THEN embedding[k]
                     ELSE CAST(0.0 AS FLOAT) END)
            ELSE embedding END AS embedding
          FROM e0),
        e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM uni),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q204/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q204/codebooks/*.parquet')),
        sim AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${duckDot("e.embedding", "c.ce")} / (e.nrm * c.cn) DESC,
            c.cid) AS rn
          FROM e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, nrm, cid AS cluster_id
                     FROM sim WHERE rn = 1),
        resid AS (SELECT a.vec_id, a.cluster_id,
            list_transform(range(1, len(a.embedding) + 1),
              k -> CAST(a.embedding[k] AS DOUBLE) - CAST(c.ce[k] AS DOUBLE))
              AS res
          FROM assigned a JOIN cents c ON c.cid = a.cluster_id),
        subr AS (SELECT vec_id, cluster_id, s.sub,
            res[s.sub * 8 + 1 : s.sub * 8 + 8] AS subres
          FROM resid, (SELECT unnest(range(0, 8)) AS sub) s),
        enc AS (SELECT vec_id, cluster_id, sub, code_id FROM (
            SELECT r.vec_id, r.cluster_id, r.sub, b.code_id,
              row_number() OVER (PARTITION BY r.vec_id, r.sub ORDER BY
                list_reduce(list_transform(range(1, len(r.subres) + 1),
                  k -> (r.subres[k] - b.cw[k]) * (r.subres[k] - b.cw[k])),
                  (x, y) -> x + y) ASC, b.code_id) AS rn
            FROM subr r JOIN cb b USING (sub)) WHERE rn = 1),
        rq AS (SELECT e2.vec_id, e2.cluster_id,
            flatten(list(b.cw ORDER BY e2.sub)) AS rq
          FROM enc e2 JOIN cb b
            ON b.sub = e2.sub AND b.code_id = e2.code_id
          GROUP BY e2.vec_id, e2.cluster_id),
        vn AS (SELECT r.vec_id, r.cluster_id,
            sqrt(list_reduce(list_transform(range(1, len(r.rq) + 1),
              k -> (CAST(c.ce[k] AS DOUBLE) + r.rq[k])
                 * (CAST(c.ce[k] AS DOUBLE) + r.rq[k])),
              (x, y) -> x + y)) AS vn
          FROM rq r JOIN cents c ON c.cid = r.cluster_id),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id % 3 = 2 AND vec_id < 40),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 3),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, e2.vec_id, e2.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[e2.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN enc e2 ON e2.cluster_id = p.cluster_id
            AND e2.vec_id <> p.query_id
          JOIN cb b ON b.sub = e2.sub AND b.code_id = e2.code_id),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              (p.qc + a.adcsum) / (p.qn * v.vn) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN vn v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 12),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS adc_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, adc_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q174HardNegatives = Q("q174_hard_negatives",
    // hard-negative mining for embedding-model training (the
    // contrastive-learning data op: SBERT/DPR-style batches want, for
    // each anchor, the highest-scoring WRONG-label neighbors — random
    // negatives are too easy and the model stops learning). For each
    // anchor (every 79th vector): top-5 cosine among OTHER-label
    // vectors, plus the margin to the hardest POSITIVE (max same-label
    // cosine) — margin ≤ 0 flags anchors whose nearest neighbor is
    // already a label violation (the batch the trainer wants most).
    // Scale shape: anchors are a broadcast-sized sample, so the corpus
    // makes ONE pass against the broadcast (no N×N), per-anchor top-k
    // via window over (anchor, corpus-partition) partial ranks; the
    // label anti-predicate rides the same pass. At 100 TB: identical
    // plan, anchors stay the broadcast side.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") % 79 === 0)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("qlabel"), col("vec_id"),
          col("label"),
          round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6)
            .as("cosine"))
        .transform(eager) // feeds the negative ranks AND the positive max
      val posMax = scored.filter(col("label") === col("qlabel"))
        .groupBy(col("query_id"))
        .agg(max(col("cosine")).as("pos_cosine"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      scored.filter(col("label") =!= col("qlabel"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .join(posMax, Seq("query_id"), "left")
        .select(col("query_id"), col("rank"),
          col("vec_id").as("negative_id"), col("label").as("neg_label"),
          col("cosine"),
          round(coalesce(col("pos_cosine"), lit(0.0)) - col("cosine"), 6)
            .as("margin"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe,
              nrm AS qn FROM e WHERE vec_id % 79 = 0),
        scored AS (SELECT q.query_id, q.qlabel, e.vec_id, e.label,
          round(${duckDot("q.qe", "e.embedding")} / (q.qn * e.nrm), 6) AS cosine
          FROM e JOIN q ON e.vec_id <> q.query_id),
        pos AS (SELECT query_id, max(cosine) AS pos_cosine FROM scored
          WHERE label = qlabel GROUP BY query_id),
        neg AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS rank FROM scored
          WHERE label <> qlabel)
      SELECT n.query_id, n.rank, n.vec_id AS negative_id,
        n.label AS neg_label, n.cosine,
        round(coalesce(p.pos_cosine, 0.0) - n.cosine, 6) AS margin
      FROM neg n LEFT JOIN pos p ON p.query_id = n.query_id
      WHERE n.rank <= 5 ORDER BY n.query_id, n.rank"""))

  val q180AdcCompact = Q("q180_adc_compact",
    // vector-index auto-compaction policy (AdcIngest.compactIfNeeded)
    // — q171's twin for the PQ/ADC warehouse: append-heavy vector
    // ingest decays the index toward one file set per generation, and
    // the maintenance rewrite is a PURE physical move (batches carry
    // disjoint vec_ids; rows never merge) through the crash-safe
    // two-rename swap, cluster-clustered within files so probe-routed
    // reads touch contiguous runs. Lifecycle: bootstrap (%4==1) →
    // append %4==2 → policy no-op at 2 ≤ 2 → append %4==3 → policy
    // FIRES at 3 > 2 → 1 generation → append %4==0 lands as batch 3
    // (the exactly-once high-water mark survives the rewrite; its
    // replay stays refused) → 2 generations. The oracle replays the
    // ADC search from the POST-POLICY index parquet (the compacted
    // batch=0 + the post-compaction batch=3) — what's compared is the
    // physical tree the policy produced, scored through the same LUT
    // conventions as q170/q172.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val wh = s"${Catalog.root}/graft_adc/q180"
      val ai = graft.ops.AdcIngest
      ai.bootstrap(s, e.filter(col("vec_id") % 4 === 1), wh,
        k = 16, m = 8, ks = 16)
      require(ai.append(s, e.filter(col("vec_id") % 4 === 2), wh, 1L),
        "batch 1 must land")
      require(!ai.compactIfNeeded(s, wh, maxSegments = 2),
        "policy fired inside the segment budget")
      require(ai.segmentCount(s, wh) == 2, "no-op policy touched the tree")
      require(ai.append(s, e.filter(col("vec_id") % 4 === 3), wh, 2L),
        "batch 2 must land")
      require(ai.compactIfNeeded(s, wh, maxSegments = 2),
        "policy must fire at 3 generations > budget 2")
      require(ai.segmentCount(s, wh) == 1,
        "expected 1 generation after the policy fired")
      require(ai.append(s, e.filter(col("vec_id") % 4 === 0), wh, 3L),
        "append after compaction must land")
      require(!ai.append(s, e.filter(col("vec_id") % 4 === 0), wh, 3L),
        "replayed id must stay refused after the policy fired")
      require(ai.segmentCount(s, wh) == 2,
        "post-compaction append must open its own generation")
      val cents = graft.ops.VectorOps.loadCentroids(s, wh + "/centroids")
      import s.implicits._
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 3), cdf, cbSeq)
      val cand = graft.ops.Pq.adcSearch(ai.index(s, wh), pl, topC = 12)
      graft.ops.IvfPq.rerank(cand, e, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine").as("adc_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q180/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q180/codebooks/*.parquet')),
        idx AS (SELECT vec_id, cluster_id, codes, vn FROM read_parquet(
          '${Catalog.root}/graft_adc/q180/index/*/*.parquet')),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 4),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 3),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, i.vec_id, s.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[s.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN idx i ON i.cluster_id = p.cluster_id
            AND i.vec_id <> p.query_id,
            (SELECT unnest(range(0, 8)) AS sub) s
          JOIN cb b ON b.sub = s.sub
            AND b.code_id = i.codes[s.sub + 1]),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              (p.qc + a.adcsum) / (p.qn * v.vn) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN idx v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 12),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS adc_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, adc_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q191AdcTiered = Q("q191_adc_tiered",
    // SIZE-TIERED compaction for the PQ/ADC vector warehouse
    // (AdcIngest.tieredCompact / ops/SegmentCompaction) — q190's twin,
    // closing the write-amplification fix for BOTH index kinds: q180's
    // full compact rewrites the whole index per firing; tiered merging
    // folds only the unsettled generation tail and leaves the large
    // settled bootstrap byte-identical on disk (require-pinned below,
    // path+len+mtime). The merge is still a pure physical move
    // (disjoint vec_ids), meta and its exactly-once high-water mark
    // untouched — and because a merge collapses a CONTIGUOUS run into
    // its lowest id, rollback stays decidable: a cut INSIDE the merged
    // run is require-pinned REFUSED (its files now interleave rows
    // from both sides of the cut), while boundary cuts stay legal.
    // Lifecycle: bootstrap 80% → append 5% (policy must not fire) →
    // append 5% → policy merges exactly {1,2} → replay refused, next
    // id lands in its own generation. Oracle: replay the ADC search
    // from the post-merge index parquet (q180's convention) — serving
    // parity over the tiered tree is what the gate pins.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val wh = s"${Catalog.root}/graft_adc/q191"
      val ai = graft.ops.AdcIngest
      ai.bootstrap(s, e.filter(col("vec_id") % 20 < 16), wh,
        k = 16, m = 8, ks = 16)
      require(ai.append(s, e.filter(col("vec_id") % 20 === 16), wh, 1L),
        "batch 1 must land")
      require(ai.tieredCompact(s, wh, ratio = 4.0).isEmpty,
        "a single small generation must not trigger a tiered merge")
      require(ai.segmentCount(s, wh) == 2, "no-op policy touched the tree")
      require(ai.append(s, e.filter(col("vec_id") % 20 === 17), wh, 2L),
        "batch 2 must land")
      def stamps() = graft.ops.SegmentCompaction.fileStamps(s,
        s"$wh/index/batch=0")
      val bootstrapBefore = stamps()
      require(ai.tieredCompact(s, wh, ratio = 4.0) == Seq(1L, 2L),
        "the unsettled tail {1,2} must merge")
      require(stamps() == bootstrapBefore,
        "the settled bootstrap generation was rewritten — tiered " +
          "compaction must leave settled trees byte-identical")
      require(ai.segmentCount(s, wh) == 2,
        "expected generations {0, merged 1} after the tiered merge")
      // a rollback cut INSIDE the merged run is data corruption and
      // must refuse with the merged diagnosis
      require(scala.util.Try(ai.rollback(s, wh, 1L)).isFailure,
        "rollback into a merged generation must be refused")
      require(!ai.append(s, e.filter(col("vec_id") % 20 === 17), wh, 2L),
        "replayed id must stay refused after the tiered merge")
      require(ai.append(s, e.filter(col("vec_id") % 20 === 18), wh, 3L),
        "append after the tiered merge must land")
      require(ai.segmentCount(s, wh) == 3,
        "post-merge append must open its own generation")
      val cents = graft.ops.VectorOps.loadCentroids(s, wh + "/centroids")
      import s.implicits._
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 3), cdf, cbSeq)
      val cand = graft.ops.Pq.adcSearch(ai.index(s, wh), pl, topC = 12)
      graft.ops.IvfPq.rerank(cand, e, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine").as("adc_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q191/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q191/codebooks/*.parquet')),
        idx AS (SELECT vec_id, cluster_id, codes, vn FROM read_parquet(
          '${Catalog.root}/graft_adc/q191/index/*/*.parquet')),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 4),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 3),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, i.vec_id, s.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[s.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN idx i ON i.cluster_id = p.cluster_id
            AND i.vec_id <> p.query_id,
            (SELECT unnest(range(0, 8)) AS sub) s
          JOIN cb b ON b.sub = s.sub
            AND b.code_id = i.codes[s.sub + 1]),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              (p.qc + a.adcsum) / (p.qn * v.vn) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN idx v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 12),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS adc_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, adc_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q198VectorDelete = Q("q198_vector_delete",
    // TOMBSTONE DELETES for the PQ/ADC vector warehouse
    // (AdcIngest.delete) — q197's vector twin, completing the delete
    // lever across both index kinds: an embedding derived from
    // deleted/opted-out content must leave the SERVING index now, not
    // at the next re-bootstrap (vector stores call this the forget
    // path). Logical deletion: validated ids land as epoch generations
    // under tombstones/, committed LAST through the meta row's
    // del_epoch; index()/readAsOf anti-join the |deletes|-bounded set
    // broadcast-side, so every served search behaves as if the vectors
    // were never ingested; full compaction PURGES the rows physically
    // while serving identically (require-pinned). A second delete
    // lands after the compact so the final state holds live tombstones
    // the oracle's NOT-IN must actually apply. The oracle replays the
    // FULL serving path (probe-route → LUT ADC scan → exact rerank)
    // from the persisted models + index + tombstones + meta.
    // TombstoneSpec pins the crash window, exactly-once replays, and
    // the rollback interplay.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val wh = s"${Catalog.root}/graft_adc/q198"
      val ai = graft.ops.AdcIngest
      ai.bootstrap(s, e.filter(col("vec_id") % 5 =!= 0), wh,
        k = 16, m = 8, ks = 16)
      require(ai.append(s, e.filter(col("vec_id") % 5 === 0), wh, 1L),
        "batch 1 must land")
      def victims(m: Long) = e.filter(col("vec_id") % 9 === m)
        .select(col("vec_id"))
      require(ai.delete(s, wh, victims(2L)) > 0,
        "the first delete batch must land")
      require(ai.delete(s, wh, victims(2L)) == 0L,
        "a replayed delete must be a 0-count no-op")
      require(ai.index(s, wh).filter(col("vec_id") % 9 === 2)
        .limit(1).count() == 0L,
        "tombstoned vectors must never serve")
      ai.compact(s, wh)
      require(s.read.parquet(s"$wh/index")
        .filter(col("vec_id") % 9 === 2).count() == 0L,
        "full compaction must purge tombstoned rows physically")
      require(ai.delete(s, wh, victims(4L)) > 0,
        "the post-compact delete batch must land")
      val cents = graft.ops.VectorOps.loadCentroids(s, wh + "/centroids")
      import s.implicits._
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 3), cdf, cbSeq)
      val cand = graft.ops.Pq.adcSearch(ai.index(s, wh), pl, topC = 12)
      graft.ops.IvfPq.rerank(cand, e, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine").as("adc_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q198/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q198/codebooks/*.parquet')),
        m AS (SELECT del_epoch FROM read_parquet(
          '${Catalog.root}/graft_adc/q198/meta/*.parquet')),
        tomb AS (SELECT DISTINCT t.vec_id FROM read_parquet(
            '${Catalog.root}/graft_adc/q198/tombstones/*/*.parquet',
            hive_partitioning = true) t, m
          WHERE t.epoch <= m.del_epoch),
        idx AS (SELECT vec_id, cluster_id, codes, vn FROM read_parquet(
            '${Catalog.root}/graft_adc/q198/index/*/*.parquet')
          WHERE vec_id NOT IN (SELECT vec_id FROM tomb)),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 4),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 3),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, i.vec_id, s.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[s.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN idx i ON i.cluster_id = p.cluster_id
            AND i.vec_id <> p.query_id,
            (SELECT unnest(range(0, 8)) AS sub) s
          JOIN cb b ON b.sub = s.sub
            AND b.code_id = i.codes[s.sub + 1]),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              (p.qc + a.adcsum) / (p.qn * v.vn) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN idx v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 12),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS adc_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, adc_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q201FilteredAnn = Q("q201_filtered_ann",
    // FILTERED VECTOR SEARCH — top-k under a metadata predicate
    // ("nearest neighbors among label=2 vectors"), the workhorse
    // vector-store feature plain ANN lacks: post-filtering a top-k
    // list starves recall when the predicate is selective, and a
    // query-time join of an attribute table against the index is a
    // corpus-scale shuffle. The engine answer: attributes ride IN the
    // index rows (AdcIngest meta passthrough — bootstrap/append carry
    // chosen vector columns through encode into every generation, a
    // pure projection with zero extra exchanges), so the predicate
    // becomes a MAP-SIDE FILTER on the partition-pruned compressed
    // scan itself, BEFORE the ADC top-C window — candidate selection
    // is then exact with respect to the filtered population (the
    // pre-filtering design of production IVF stores). Serving path:
    // probe-route nprobe=3 → filter label=2 → LUT ADC top-12 → exact
    // rerank top-3. The oracle replays the FULL path from the
    // persisted models + index parquet with the same WHERE label=2 on
    // the index CTE — metadata included, because the metadata is IN
    // the persisted index. AdcIngestSpec pins the passthrough
    // round-trip and the generation schema-consistency refusal.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"),
          norm(col("embedding")).as("nrm"))
      val wh = s"${Catalog.root}/graft_adc/q201"
      val ai = graft.ops.AdcIngest
      ai.bootstrap(s,
        e.filter(col("vec_id") % 5 =!= 0)
          .select(col("vec_id"), col("embedding"), col("label")),
        wh, k = 16, m = 8, ks = 16, meta = Seq("label"))
      require(ai.append(s,
        e.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("embedding"), col("label")),
        wh, 1L, meta = Seq("label")), "batch 1 must land")
      val cents = graft.ops.VectorOps.loadCentroids(s, wh + "/centroids")
      import s.implicits._
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 3), cdf, cbSeq)
      // the predicate lands on the compressed scan BEFORE the top-C
      // window — candidates are exact w.r.t. the filtered population
      val cand = graft.ops.Pq.adcSearch(
        ai.index(s, wh).filter(col("label") === 2), pl, topC = 12)
      graft.ops.IvfPq.rerank(cand, e, topK = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("coarse_cosine").as("adc_cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q201/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q201/codebooks/*.parquet')),
        idx AS (SELECT vec_id, cluster_id, codes, vn FROM read_parquet(
            '${Catalog.root}/graft_adc/q201/index/*/*.parquet')
          WHERE label = 2),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < 4),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 3),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, i.vec_id, s.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[s.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN idx i ON i.cluster_id = p.cluster_id
            AND i.vec_id <> p.query_id,
            (SELECT unnest(range(0, 8)) AS sub) s
          JOIN cb b ON b.sub = s.sub
            AND b.code_id = i.codes[s.sub + 1]),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand AS (SELECT query_id, qe, qn, neighbor_id, approx FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              (p.qc + a.adcsum) / (p.qn * v.vn) AS approx,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN idx v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 12),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(c.approx, 6) AS adc_cosine,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
      SELECT query_id, rank, neighbor_id, cosine, adc_cosine FROM rk
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  val q193SemanticDecon = Q("q193_semantic_decon",
    // SEMANTIC (embedding-level) eval-set decontamination, served from
    // the PQ/ADC index (verdict #4): q72/q178 remove n-gram overlap,
    // which PARAPHRASED contamination evades — the industry answer is
    // embedding-cosine screening of the training corpus against the
    // eval set (e.g. the contamination audits in Brown et al. 2020
    // App. C extended to semantic similarity). Eval set = vec_id%11==0
    // (benchmark-sized, the broadcast side — the q178 argument); train
    // = the rest, with paraphrase-style contamination PLANTED so the
    // gate is non-vacuous at every SF (the q178 pattern): each %13==0
    // train vector is REPLACED by its deterministic eval partner
    // ((vec_id%45)*11 — an eval member at every SF) perturbed in one
    // coordinate (double-add, cast back to float — bit-identical in
    // both engines), cosine ≈ 0.999 with ZERO shared text n-grams'
    // worth of signal (PqAdcSpec pins the text-side provably-not-
    // caught twin). Serving path: ADC warehouse bootstrapped ONCE per
    // fixture on the planted train side; each run probe-routes the
    // eval queries (nprobe=4), SCREENS by ADC approx ≥ 0.55 —
    // Pq.adcScreen, ZERO exchanges, no top-k window to truncate
    // matches; the m=8/ks=16 product quantizer compresses a true
    // 0.999 cosine down to ADC ≈ 0.61-0.66 while background pairs top
    // out ≈ 0.53, so 0.55 splits the gap — then verifies survivors
    // EXACTLY (one bounded join) at cosine ≥ 0.99 rounded 6dp; any
    // background pair the loose screen passes dies there exactly. In-query recall pin: the flagged set
    // must be EXACTLY the planted set (background pairs max ≈ 0.53,
    // never flag). The oracle replays the FULL serving path — planted
    // corpus construction, probe routing, LUT scoring, screen,
    // verify — from the persisted models/index parquet alone (the
    // q181 oracle rule). At 100 TB: the corpus-scale work is the
    // cluster-pruned compressed scan; the eval side is benchmark-
    // sized and broadcast; the exact verify touches only survivors.
    (s, d) => {
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val evalSet = e0.filter(col("vec_id") % 11 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("pe"))
      val train = e0.filter(col("vec_id") % 11 =!= 0)
        .join(broadcast(evalSet),
          col("eval_id") === pmod(col("vec_id"), lit(45L)) * 11, "left")
        .select(col("vec_id"),
          when(col("vec_id") % 13 === 0 && col("pe").isNotNull,
            transform(col("pe"), (x, k) =>
              (x.cast(DoubleType) +
                when(k.cast(LongType) === pmod(col("vec_id"), lit(8L)),
                  lit(0.05)).otherwise(lit(0.0))).cast(FloatType)))
            .otherwise(col("embedding")).as("embedding"))
      val wh = s"${Catalog.root}/graft_adc/q193"
      val ai = graft.ops.AdcIngest
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          scala.util.Try(ai.index(s, wh).schema).isFailure) {
        ai.bootstrap(s, train, wh, k = 16, m = 8, ks = 16)
      }
      val cdf = {
        import s.implicits._
        graft.ops.VectorOps.loadCentroids(s, wh + "/centroids").toSeq
          .toDF("cluster_id", "ce")
          .withColumn("cluster_id", col("cluster_id").cast(LongType))
          .withColumn("cn", norm(col("ce")))
      }
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val q = evalSet.select(col("eval_id").as("query_id"),
        col("pe").as("qe"), norm(col("pe")).as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 4), cdf, cbSeq)
      val cand = graft.ops.Pq.adcScreen(ai.index(s, wh), pl, tauPre = 0.55)
      val tn = train
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      // survivors are contamination-sized (<< corpus) — broadcast them
      // so the train side never shuffles for the exact verify
      val out = eager(tn
        .join(broadcast(cand), tn("vec_id") === cand("neighbor_id"))
        .select(col("vec_id"), col("query_id").as("eval_id"),
          round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6)
            .as("cosine"))
        .filter(col("cosine") >= 0.99)
        .orderBy(col("vec_id"), col("eval_id")))
      // recall pin (non-vacuous at every SF): exactly the planted set
      // flags — background cosine tops out ≈ 0.53 and the planted
      // partner sits ≈ 0.999, so a mismatch means the serving path
      // (probe routing or ADC screen) dropped true contamination
      val planted = train.join(broadcast(evalSet.select(
          (col("eval_id")).as("__pid"))),
          col("__pid") === pmod(col("vec_id"), lit(45L)) * 11, "left_semi")
        .filter(col("vec_id") % 13 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val flagged = out.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      require(flagged == planted,
        s"semantic decontamination must flag exactly the planted set " +
          s"(missed ${planted -- flagged}, spurious ${flagged -- planted})")
      out
    },
    Some(s"""WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
        ev AS (SELECT vec_id AS eval_id, embedding AS pe FROM e0
               WHERE vec_id % 11 = 0),
        tr0 AS (SELECT t.vec_id,
            CASE WHEN t.vec_id % 13 = 0 AND p.pe IS NOT NULL THEN
              list_transform(range(1, len(p.pe) + 1), k ->
                CAST(CAST(p.pe[k] AS DOUBLE) +
                  CASE WHEN k - 1 = t.vec_id % 8 THEN 0.05 ELSE 0.0 END
                  AS FLOAT))
            ELSE t.embedding END AS embedding
          FROM e0 t LEFT JOIN ev p ON p.eval_id = (t.vec_id % 45) * 11
          WHERE t.vec_id % 11 <> 0),
        tr AS (SELECT vec_id, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM tr0),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q193/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q193/codebooks/*.parquet')),
        idx AS (SELECT vec_id, cluster_id, codes, vn FROM read_parquet(
          '${Catalog.root}/graft_adc/q193/index/*/*.parquet')),
        q AS (SELECT eval_id AS query_id, pe AS qe,
            sqrt(${duckDot("pe", "pe")}) AS qn FROM ev),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 4),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, i.vec_id, s.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[s.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN idx i ON i.cluster_id = p.cluster_id
            AND i.vec_id <> p.query_id,
            (SELECT unnest(range(0, 8)) AS sub) s
          JOIN cb b ON b.sub = s.sub
            AND b.code_id = i.codes[s.sub + 1]),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        scr AS (SELECT p.query_id, p.qe, p.qn, a.vec_id
          FROM adc a JOIN idx v ON v.vec_id = a.vec_id
          JOIN pq p ON p.query_id = a.query_id
            AND p.cluster_id = v.cluster_id
          WHERE (p.qc + a.adcsum) / (p.qn * v.vn) >= 0.55),
        verified AS (SELECT t.vec_id, s.query_id AS eval_id,
            round(${duckDot("s.qe", "t.embedding")} / (s.qn * t.nrm), 6)
              AS cosine
          FROM scr s JOIN tr t ON t.vec_id = s.vec_id)
      SELECT vec_id, eval_id, cosine FROM verified
      WHERE cosine >= 0.99 ORDER BY vec_id, eval_id"""))

  val q194RecallDrift = Q("q194_recall_drift",
    // ANN RECALL-DRIFT AUDIT over the incremental ADC warehouse
    // (verdict #6) — the day-2 operational signal for every
    // frozen-model vector index: centroids and codebooks are trained
    // at bootstrap and FROZEN (the q172 contract), so as appended
    // batches drift from the training distribution, routing and
    // quantization quality decay silently; this audit is the metric
    // that tells an operator WHEN to retrain and re-baseline. Per
    // generation g: serve the SAME sampled query set through the real
    // path (probe-route nprobe=2 → ADC topC=16 → exact rerank top-5)
    // against the index as of batch ≤ g (a partition-pruned
    // time-travel read — the batch= layout makes it O(1)), compute
    // exact brute-force top-5 over the vectors ingested through g,
    // and report recall@5 and MRR-of-exact-top-1 as exact integer
    // micro sums (the q183 convention). Drift is PLANTED so the
    // signal is non-vacuous at every SF: batch 2 ingests REVERSED
    // embeddings — a distribution the frozen models never saw. The
    // oracle replays BOTH paths per generation from the persisted
    // models/index parquet (hive-partitioned batch column) and the
    // same constructed universe. At 100 TB: the served side is the
    // cluster-pruned compressed scan per generation; the exact side
    // is |queries| × corpus — queries are a fixed audit sample, so
    // one broadcast pass (the q174 shape), amortized across the
    // generations it audits.
    (s, d) => {
      val k = 5
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      // the universe AS INGESTED: gen 0/1 raw, gen 2 reversed (drift)
      val uni = e0.select(col("vec_id"),
          when(col("vec_id") % 3 === 2, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"))
        .withColumn("nrm", norm(col("embedding")))
        .withColumn("gen", pmod(col("vec_id"), lit(3L)))
      val wh = s"${Catalog.root}/graft_adc/q194"
      val ai = graft.ops.AdcIngest
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          scala.util.Try(ai.lastBatch(s, wh)).getOrElse(-1L) != 2L) {
        ai.bootstrap(s, uni.filter(col("gen") === 0)
          .select(col("vec_id"), col("embedding")), wh, k = 16, m = 8, ks = 16)
        ai.append(s, uni.filter(col("gen") === 1)
          .select(col("vec_id"), col("embedding")), wh, 1L)
        ai.append(s, uni.filter(col("gen") === 2)
          .select(col("vec_id"), col("embedding")), wh, 2L)
      }
      val cdf = {
        import s.implicits._
        graft.ops.VectorOps.loadCentroids(s, wh + "/centroids").toSeq
          .toDF("cluster_id", "ce")
          .withColumn("cluster_id", col("cluster_id").cast(LongType))
          .withColumn("cn", norm(col("ce")))
      }
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val q = uni.filter(col("gen") === 0 && col("vec_id") % 51 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 2), cdf, cbSeq)
      val gens = (0L to 2L).map { g =>
        val uniG = uni.filter(col("gen") <= g)
        // the index AS OF generation g — a partition-pruned snapshot
        val idxG = ai.readAsOf(s, wh, g)
        val srv = graft.ops.IvfPq.rerank(
            graft.ops.Pq.adcSearch(idxG, pl, topC = 16), uniG, topK = k)
          .select(col("query_id"), col("rank"), col("neighbor_id"))
        val wEx = Window.partitionBy(col("query_id"))
          .orderBy(col("exc").desc, col("vec_id"))
        val ex = uniG.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6)
              .as("exc"))
          .withColumn("erank", row_number().over(wEx))
          .filter(col("erank") <= k)
        // every frame from here down is audit-sized (|queries| x k) —
        // broadcast so no exchange ever carries them
        val hits = srv.join(
          broadcast(ex.select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("erank"))),
          Seq("query_id", "neighbor_id"))
        val perQ = hits.groupBy(col("query_id")).agg(
          (count(lit(1)) * lit(1000000L / k)).as("recall_micro"),
          max(when(col("erank") === 1,
            expr("1000000 div rank"))).as("mrr0"))
        q.select(col("query_id")).join(broadcast(perQ), Seq("query_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(coalesce(col("recall_micro"), lit(0L)))
              .as("sum_recall_micro"),
            sum(coalesce(col("mrr0"), lit(0L))).as("sum_mrr_micro"))
          .select(lit(g).as("generation"),
            lit(idxG.count()).as("n_indexed"), col("n_queries"),
            col("sum_recall_micro"), col("sum_mrr_micro"))
      }
      val out = gens.reduce(_ unionByName _).orderBy(col("generation"))
        .transform(eager)
      require(out.filter(col("generation") === 0)
          .head().getAs[Long]("sum_recall_micro") > 0,
        "recall audit vacuous: generation 0 found nothing")
      out
    },
    Some(s"""WITH gens AS (SELECT unnest(range(0, 3)) AS g),
        e0 AS (SELECT vec_id, embedding FROM embeddings),
        uni0 AS (SELECT vec_id,
            CASE WHEN vec_id % 3 = 2 THEN
              list_transform(range(1, len(embedding) + 1),
                k -> embedding[len(embedding) + 1 - k])
            ELSE embedding END AS embedding,
            vec_id % 3 AS gen
          FROM e0),
        un AS (SELECT vec_id, gen, embedding,
            sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM uni0),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM un WHERE gen = 0 AND vec_id % 51 = 0),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q194/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q194/codebooks/*.parquet')),
        idx AS (SELECT vec_id, cluster_id, codes, vn, CAST(batch AS BIGINT) AS batch
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q194/index/*/*.parquet',
            hive_partitioning = true)),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 2),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT g.g, p.query_id, i.vec_id, s.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[s.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM gens g, pq p JOIN idx i ON i.cluster_id = p.cluster_id
            AND i.vec_id <> p.query_id,
            (SELECT unnest(range(0, 8)) AS sub) s
          JOIN cb b ON b.sub = s.sub
            AND b.code_id = i.codes[s.sub + 1]
          WHERE i.batch <= g.g),
        adc AS (SELECT g, query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY g, query_id, vec_id),
        cand AS (SELECT g, query_id, qe, qn, neighbor_id FROM (
            SELECT a.g, p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY a.g, p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN idx v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 16),
        srv AS (SELECT g, query_id, neighbor_id, rank FROM (
            SELECT c.g, c.query_id, c.neighbor_id,
              row_number() OVER (PARTITION BY c.g, c.query_id ORDER BY
                round(${duckDot("c.qe", "u.embedding")} / (c.qn * u.nrm), 6)
                  DESC, c.neighbor_id) AS rank
            FROM cand c JOIN un u ON u.vec_id = c.neighbor_id)
          WHERE rank <= 5),
        ex AS (SELECT g, query_id, vec_id, erank FROM (
            SELECT g.g, q.query_id, u.vec_id,
              row_number() OVER (PARTITION BY g.g, q.query_id ORDER BY
                round(${duckDot("q.qe", "u.embedding")} / (q.qn * u.nrm), 6)
                  DESC, u.vec_id) AS erank
            FROM gens g, q JOIN un u ON u.vec_id <> q.query_id
            WHERE u.gen <= g.g) WHERE erank <= 5),
        hits AS (SELECT s.g, s.query_id,
            CAST(count(*) * 200000 AS BIGINT) AS recall_micro,
            CAST(coalesce(max(CASE WHEN e.erank = 1
              THEN 1000000 // s.rank END), 0) AS BIGINT) AS mrr0
          FROM srv s JOIN ex e ON e.g = s.g AND e.query_id = s.query_id
            AND e.vec_id = s.neighbor_id
          GROUP BY s.g, s.query_id),
        perq AS (SELECT g.g, q.query_id,
            coalesce(h.recall_micro, 0) AS recall_micro,
            coalesce(h.mrr0, 0) AS mrr0
          FROM gens g CROSS JOIN q
          LEFT JOIN hits h ON h.g = g.g AND h.query_id = q.query_id)
      SELECT CAST(p.g AS BIGINT) AS generation,
        (SELECT count(*) FROM idx i WHERE i.batch <= p.g) AS n_indexed,
        CAST(count(*) AS BIGINT) AS n_queries,
        CAST(sum(recall_micro) AS BIGINT) AS sum_recall_micro,
        CAST(sum(mrr0) AS BIGINT) AS sum_mrr_micro
      FROM perq p GROUP BY p.g ORDER BY generation"""))

  val q181MmrDiversify = Q("q181_mmr_diversify",
    // MMR diversity re-ranking (Carbonell & Goldstein, SIGIR 1998) —
    // the post-retrieval step every RAG/search stack and
    // diversity-aware data-selection pipeline runs: greedily pick k
    // results maximizing relevance − λ·(max similarity to anything
    // already picked), so near-duplicate hits don't crowd the window.
    // Candidates = per-anchor top-8 SERVED FROM THE PQ/ADC WAREHOUSE
    // (probe-route → ADC scan inside nprobe clusters → exact rerank,
    // the q184 dense path — bootstrapped once per fixture input); the
    // greedy selection is UNROLLED into k−1 exact relational steps
    // (each an argmax window over score = rel − 0.5·max-sim-to-
    // selected), with every cosine rounded to 6 dp BEFORE ranking so
    // both engines order identically. The oracle replays the FULL
    // serving path from the persisted models/index alone, then the
    // same unroll. Per-query state is ≤ window-sized at every step —
    // at 100 TB candidate generation is the cluster-pruned index
    // probe; the MMR steps touch nq×8 rows regardless of corpus size.
    (s, d) => {
      val k = 4
      // λ = 0.5 folded into integers: mmr_micro2 = 2·rel_micro −
      // max_sim_micro — the BM25 micro-unit convention, so greedy
      // ranking is exact integer arithmetic in both engines (a
      // float re-round of rel − 0.5·sim diverged by an ulp at sf0.1)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      // INDEX-SERVED candidate window (the q184 dense path, closing
      // the round-9 verdict's post-retrieval self-consistency gap):
      // anchors probe-route into a PQ/ADC warehouse bootstrapped ONCE
      // per fixture input, ADC-score inside nprobe=4 clusters, exact
      // rerank keeps top-8 — the brute-force broadcast cosine over
      // the corpus is gone from the plan. At 100 TB the corpus-scale
      // work is the cluster-pruned index probe plus ONE embedding
      // fetch of the nq×8 window; the MMR steps below touch nq×8
      // rows regardless of corpus size.
      val wh = s"${Catalog.root}/graft_adc/q181"
      val ai = graft.ops.AdcIngest
      Catalog.buildOnce(s, s"$wh/fixture", d)(
          scala.util.Try(ai.index(s, wh).schema).isFailure) {
        ai.bootstrap(s, e, wh, k = 16, m = 8, ks = 16)
      }
      val cdf = {
        import s.implicits._
        graft.ops.VectorOps.loadCentroids(s, wh + "/centroids").toSeq
          .toDF("cluster_id", "ce")
          .withColumn("cluster_id", col("cluster_id").cast(LongType))
          .withColumn("cn", norm(col("ce")))
      }
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, wh + "/codebooks").get)
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 4), cdf, cbSeq)
      val top = graft.ops.IvfPq.rerank(
          graft.ops.Pq.adcSearch(ai.index(s, wh), pl, topC = 16),
          e, topK = 8)
        .select(col("query_id"), col("neighbor_id").as("vec_id"),
          col("rank").as("crank"),
          round(col("cosine") * 1e6, 0).cast(LongType).as("rel_micro"))
      val cands = e.join(broadcast(top), Seq("vec_id"))
        .select(col("query_id"), col("vec_id"), col("embedding"),
          col("nrm"), col("rel_micro"), col("crank"))
        .transform(eager) // candidate window: re-joined k times below
      // pairwise sims within each query's candidate window (≤ 8×8)
      val pair = cands.select(col("query_id"), col("vec_id").as("ca"),
          col("embedding").as("ea"), col("nrm").as("na"))
        .join(cands.select(col("query_id"), col("vec_id").as("cb"),
          col("embedding").as("eb"), col("nrm").as("nb")), Seq("query_id"))
        .filter(col("ca") =!= col("cb"))
        .select(col("query_id"), col("ca"), col("cb"),
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")) * 1e6, 0)
            .cast(LongType).as("sim_micro"))
        .transform(eager)
      // step 1: pure relevance
      var selected = cands.filter(col("crank") === 1)
        .select(col("query_id"), col("vec_id"), lit(1).as("pick_order"),
          (col("rel_micro") * 2).as("mmr_micro2"))
      // steps 2..k: argmax of 2·rel_micro − max(sim_micro to selected)
      for (t <- 2 to k) {
        val maxSim = pair
          .join(selected.select(col("query_id"), col("vec_id").as("cb")),
            Seq("query_id", "cb"))
          .groupBy(col("query_id"), col("ca"))
          .agg(max(col("sim_micro")).as("msim"))
          .select(col("query_id").as("__mq"), col("ca").as("__mc"),
            col("msim"))
        val wPick = Window.partitionBy(col("query_id"))
          .orderBy(col("mmr_micro2").desc, col("vec_id"))
        val pick = cands
          .join(selected.select(col("query_id").as("__selq"),
            col("vec_id").as("__sel")),
            col("query_id") === col("__selq") &&
              col("vec_id") === col("__sel"), "left_anti")
          .join(maxSim, col("__mc") === col("vec_id") &&
            col("__mq") === col("query_id"), "left")
          .select(col("query_id"), col("vec_id"),
            (col("rel_micro") * 2 - coalesce(col("msim"), lit(0L)))
              .as("mmr_micro2"))
          .withColumn("pr", row_number().over(wPick))
          .filter(col("pr") === 1)
          .select(col("query_id"), col("vec_id"),
            lit(t).as("pick_order"), col("mmr_micro2"))
        // localCheckpoint, not persist: each step references the prior
        // selected set THREE times (max-sim join, anti-join, union), so
        // a lineage-preserving cache still embeds the previous step's
        // plan 3× — exponential plan growth across k steps (measured:
        // 2,276 exchanges in the k=4 executed plan). Checkpointing
        // truncates the logical plan to the materialized rows (nq·t —
        // driver-bounded), keeping every step's plan constant-size.
        selected = selected.unionByName(pick).localCheckpoint()
      }
      selected.orderBy(col("query_id"), col("pick_order"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id % 101 = 0),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q181/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q181/codebooks/*.parquet')),
        idx AS (SELECT vec_id, cluster_id, codes, vn FROM read_parquet(
          '${Catalog.root}/graft_adc/q181/index/*/*.parquet')),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 4),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, i.vec_id, s.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[s.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN idx i ON i.cluster_id = p.cluster_id
            AND i.vec_id <> p.query_id,
            (SELECT unnest(range(0, 8)) AS sub) s
          JOIN cb b ON b.sub = s.sub
            AND b.code_id = i.codes[s.sub + 1]),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand1 AS (SELECT query_id, qe, qn, neighbor_id FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN idx v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 16),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand1 c JOIN e ON e.vec_id = c.neighbor_id),
        top AS (SELECT query_id, neighbor_id, cosine,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS crank
          FROM rr),
        cands AS (SELECT t.query_id, t.neighbor_id AS vec_id,
            e.embedding, e.nrm,
            CAST(round(t.cosine * 1e6, 0) AS BIGINT) AS rel_micro,
            t.crank
          FROM top t JOIN e ON e.vec_id = t.neighbor_id
          WHERE t.crank <= 8),
        pair AS (SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
            CAST(round(${duckDot("a.embedding", "b.embedding")}
              / (a.nrm * b.nrm) * 1e6, 0) AS BIGINT) AS sim_micro
          FROM cands a JOIN cands b ON a.query_id = b.query_id
            AND a.vec_id <> b.vec_id),
        s1 AS (SELECT query_id, vec_id, 1 AS pick_order,
            rel_micro * 2 AS mmr_micro2 FROM cands WHERE crank = 1),
        m2 AS (SELECT p.query_id, p.ca, max(p.sim_micro) AS msim FROM pair p
          JOIN s1 ON s1.query_id = p.query_id AND s1.vec_id = p.cb
          GROUP BY p.query_id, p.ca),
        p2 AS (SELECT query_id, vec_id, 2 AS pick_order, mmr_micro2 FROM (
            SELECT c.query_id, c.vec_id,
              c.rel_micro * 2 - coalesce(m.msim, 0) AS mmr_micro2,
              row_number() OVER (PARTITION BY c.query_id ORDER BY
                c.rel_micro * 2 - coalesce(m.msim, 0) DESC, c.vec_id) AS pr
            FROM cands c LEFT JOIN m2 m
              ON m.query_id = c.query_id AND m.ca = c.vec_id
            WHERE NOT EXISTS (SELECT 1 FROM s1
              WHERE s1.query_id = c.query_id AND s1.vec_id = c.vec_id))
          WHERE pr = 1),
        s2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM p2),
        m3 AS (SELECT p.query_id, p.ca, max(p.sim_micro) AS msim FROM pair p
          JOIN s2 ON s2.query_id = p.query_id AND s2.vec_id = p.cb
          GROUP BY p.query_id, p.ca),
        p3 AS (SELECT query_id, vec_id, 3 AS pick_order, mmr_micro2 FROM (
            SELECT c.query_id, c.vec_id,
              c.rel_micro * 2 - coalesce(m.msim, 0) AS mmr_micro2,
              row_number() OVER (PARTITION BY c.query_id ORDER BY
                c.rel_micro * 2 - coalesce(m.msim, 0) DESC, c.vec_id) AS pr
            FROM cands c LEFT JOIN m3 m
              ON m.query_id = c.query_id AND m.ca = c.vec_id
            WHERE NOT EXISTS (SELECT 1 FROM s2
              WHERE s2.query_id = c.query_id AND s2.vec_id = c.vec_id))
          WHERE pr = 1),
        s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM p3),
        m4 AS (SELECT p.query_id, p.ca, max(p.sim_micro) AS msim FROM pair p
          JOIN s3 ON s3.query_id = p.query_id AND s3.vec_id = p.cb
          GROUP BY p.query_id, p.ca),
        p4 AS (SELECT query_id, vec_id, 4 AS pick_order, mmr_micro2 FROM (
            SELECT c.query_id, c.vec_id,
              c.rel_micro * 2 - coalesce(m.msim, 0) AS mmr_micro2,
              row_number() OVER (PARTITION BY c.query_id ORDER BY
                c.rel_micro * 2 - coalesce(m.msim, 0) DESC, c.vec_id) AS pr
            FROM cands c LEFT JOIN m4 m
              ON m.query_id = c.query_id AND m.ca = c.vec_id
            WHERE NOT EXISTS (SELECT 1 FROM s3
              WHERE s3.query_id = c.query_id AND s3.vec_id = c.vec_id))
          WHERE pr = 1),
        s4 AS (SELECT * FROM s3 UNION ALL SELECT * FROM p4)
      SELECT query_id, vec_id, pick_order,
        CAST(mmr_micro2 AS BIGINT) AS mmr_micro2 FROM s4
      ORDER BY query_id, pick_order"""))

  val q183RetrievalMetrics = Q("q183_retrieval_metrics",
    // retrieval-quality EVAL over the ANN stack — the measurement loop
    // every index change runs before shipping (recall@k and MRR, the
    // two metrics whose discounts are RATIONAL, so the whole
    // evaluation stays exact integer micro-units cross-engine; nDCG's
    // log2 discount is libm-dependent and has no exact replay).
    // Relevance = label agreement (the embeddings table's planted
    // ground truth); system under eval = brute-force cosine top-5
    // (the q34 shape — swap in any candidate frame with the same
    // columns). Per query: hits@5, recall@5_micro = 1e6·hits/
    // min(5, n_relevant), MRR_micro = 1e6 div first-relevant rank;
    // then the macro average over queries, all integer division.
    // At 100 TB: eval queries are a broadcast-sized sample; the one
    // corpus-scale pass is the candidate generation being evaluated.
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") % 61 === 0)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_micro").desc, col("vec_id"))
      val ranked = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
          round(dot(col("qe"), col("embedding")) /
            (col("qn") * col("nrm")) * 1e6, 0).cast(LongType)
            .as("cos_micro"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      val nRel = e.join(broadcast(q.select(col("query_id"),
          col("qlabel"))), col("vec_id") =!= col("query_id"))
        .filter(col("label") === col("qlabel"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_relevant"))
      val perQuery = ranked
        .groupBy(col("query_id"), col("qlabel"))
        .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .as("hits"),
          min(when(col("label") === col("qlabel"), col("rank")))
            .as("first_rel"))
        .join(nRel, Seq("query_id"), "left")
        .select(col("query_id"), col("hits"),
          expr("hits * 1000000 div least(5, coalesce(n_relevant, 0) + " +
            "if(n_relevant is null, 1, 0))").as("recall_micro"),
          coalesce(expr("1000000 div first_rel"), lit(0L)).as("mrr_micro"))
      perQuery
        .agg(count(lit(1)).as("n_queries"),
          sum(col("hits")).as("total_hits"),
          expr("sum(recall_micro) div count(1)").as("macro_recall_micro"),
          expr("sum(mrr_micro) div count(1)").as("macro_mrr_micro"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe,
              nrm AS qn FROM e WHERE vec_id % 61 = 0),
        ranked0 AS (SELECT q.query_id, q.qlabel, e.vec_id, e.label,
            CAST(round(${duckDot("q.qe", "e.embedding")} / (q.qn * e.nrm)
              * 1e6, 0) AS BIGINT) AS cos_micro
          FROM e JOIN q ON e.vec_id <> q.query_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_micro DESC, vec_id) AS rank FROM ranked0),
        top5 AS (SELECT * FROM ranked WHERE rank <= 5),
        nrel AS (SELECT q.query_id, count(*) AS n_relevant
          FROM e JOIN q ON e.vec_id <> q.query_id AND e.label = q.qlabel
          GROUP BY q.query_id),
        pq AS (SELECT t.query_id,
            CAST(sum(CASE WHEN t.label = t.qlabel THEN 1 ELSE 0 END)
              AS BIGINT) AS hits,
            min(CASE WHEN t.label = t.qlabel THEN t.rank END) AS first_rel
          FROM top5 t GROUP BY t.query_id),
        m AS (SELECT p.query_id, p.hits,
            p.hits * 1000000 // least(5, coalesce(n.n_relevant, 0)
              + CASE WHEN n.n_relevant IS NULL THEN 1 ELSE 0 END)
              AS recall_micro,
            coalesce(1000000 // p.first_rel, 0) AS mrr_micro
          FROM pq p LEFT JOIN nrel n ON n.query_id = p.query_id)
      SELECT CAST(count(*) AS BIGINT) AS n_queries,
        CAST(sum(hits) AS BIGINT) AS total_hits,
        CAST(sum(recall_micro) // count(*) AS BIGINT) AS macro_recall_micro,
        CAST(sum(mrr_micro) // count(*) AS BIGINT) AS macro_mrr_micro
      FROM m"""))

  val q184WarehouseRrf = Q("q184_warehouse_rrf",
    // WAREHOUSE-SERVED hybrid retrieval — the day-2 production
    // composition: q166 fuses ad-hoc scans; this gate serves the
    // lexical list from the PERSISTED inverted index (q157's
    // warehouse) and the dense list from the INCREMENTALLY-BUILT
    // PQ/ADC warehouse (q172's bootstrap + append lifecycle runs
    // ONCE per fixture input — the marker below — so the fused
    // results are served across generations while repeat passes
    // measure SERVING, not rebuilds),
    // then fuses by reciprocal-rank (Cormack & Clarke 2009) in exact
    // integer nano-units: rrf_nano = Σ_lists 1e9 div (60 + rank) —
    // only ranks cross the fusion boundary, and integer division
    // keeps both engines bit-equal. The oracle replays BOTH serving
    // paths from the persisted trees alone (postings parquet; index
    // generations + frozen models) and the same fusion. At 100 TB:
    // each side is the index-accelerated plan it was gated with
    // individually; fusion moves 2k rank rows.
    (s, d) => {
      val whIx = s"${Catalog.root}/graft_invidx/q184"
      val whAdc = s"${Catalog.root}/graft_adc/q184"
      val ix = graft.ops.InvertedIndex
      val ai = graft.ops.AdcIngest
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      // Build BOTH warehouses ONCE per fixture input (q168's marker
      // pattern): this is a SERVING query — its gated content is the
      // two index-served lists and the fusion — so later passes must
      // measure serving, not per-pass dual rebuilds (the round-9
      // verdict's bench-distortion item). Bootstrap fully wipes its
      // dir and ix.build overwrites, so a marker mismatch (the
      // driver's cross-SF sequence) can never serve a stale
      // generation; a damaged tree (schema probe fails) also forces
      // the rebuild rather than a confusing downstream read error.
      Catalog.buildOnce(s, s"$whAdc/fixture", d)(
          scala.util.Try {
            s.read.parquet(s"$whIx/postings").schema
            ai.index(s, whAdc).schema
          }.isFailure) {
        ix.build(s,
          Tables.documents(s, d).select(col("doc_id"), col("text")), whIx)
        ai.bootstrap(s, e.filter(col("vec_id") % 3 =!= 0), whAdc,
          k = 16, m = 8, ks = 16)
        require(ai.append(s, e.filter(col("vec_id") % 3 === 0), whAdc, 1L),
          "dense batch 1 must land")
      }
      val lex = ix.search(s, whIx, Seq("dup", "scan", "merge"), 20)
        // rank over the ≤20 search results, ordered explicitly then
        // assigned on the driver (no single-partition WindowExec)
        .orderBy(col("bm25_micro").desc, col("doc_id"))
        .transform(graft.ops.Relational.withLocalRank(s, _, "lrank0"))
        .select(col("doc_id"), col("lrank0").cast(LongType).as("lrank"))
      val cents = graft.ops.VectorOps.loadCentroids(s, whAdc + "/centroids")
      import s.implicits._
      val cdf = cents.toSeq.toDF("cluster_id", "ce")
        .withColumn("cluster_id", col("cluster_id").cast(LongType))
        .withColumn("cn", norm(col("ce")))
      val cbSeq = graft.ops.Pq.collectCodebook(
        graft.etl.Load.readTable(s, whAdc + "/codebooks").get)
      val q = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val pl = graft.ops.Pq.probeLuts(
        graft.ops.IvfPq.probeRoute(q, cdf, nprobe = 4), cdf, cbSeq)
      val den = graft.ops.IvfPq.rerank(
        graft.ops.Pq.adcSearch(ai.index(s, whAdc), pl, topC = 24),
        e, topK = 20)
        .select(col("neighbor_id").as("doc_id"),
          col("rank").cast(LongType).as("drank"))
      lex.join(den, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lrank"), col("drank"),
          (coalesce(expr("1000000000 div (60 + lrank)"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + drank)"), lit(0L)))
            .as("rrf_nano"))
        .orderBy(col("rrf_nano").desc, col("doc_id"))
        .limit(15)
    },
    Some(s"""WITH p AS (SELECT term, doc_id, tf, dl FROM read_parquet(
          '${Catalog.root}/graft_invidx/q184/postings/*/*/*.parquet')),
        c AS (SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
          FROM read_parquet(
            '${Catalog.root}/graft_invidx/q184/corpus/*.parquet')),
        lq AS (SELECT p.*, c.n_docs, c.avgdl FROM p, c
          WHERE term IN ('dup', 'scan', 'merge')),
        ls AS (SELECT doc_id, tf, dl, n_docs, avgdl,
            CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
          FROM lq),
        lt AS (SELECT doc_id,
            CAST(round((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)
              * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
              * 1e6, 0) AS BIGINT) AS ts_micro
          FROM ls),
        lagg AS (SELECT doc_id, CAST(sum(ts_micro) AS BIGINT) AS bm25_micro
          FROM lt GROUP BY doc_id
          ORDER BY bm25_micro DESC, doc_id LIMIT 20),
        lex AS (SELECT doc_id, CAST(row_number() OVER (
            ORDER BY bm25_micro DESC, doc_id) AS BIGINT) AS lrank
          FROM lagg),
        e AS (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        cents AS (SELECT CAST(cluster_id AS BIGINT) AS cid, embedding AS ce,
            sqrt(${duckDot("embedding", "embedding")}) AS cn
          FROM read_parquet(
            '${Catalog.root}/graft_adc/q184/centroids/*.parquet')),
        cb AS (SELECT sub, code_id, cw FROM read_parquet(
          '${Catalog.root}/graft_adc/q184/codebooks/*.parquet')),
        idx AS (SELECT vec_id, cluster_id, codes, vn FROM read_parquet(
          '${Catalog.root}/graft_adc/q184/index/*/*.parquet')),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id = 0),
        probes AS (SELECT query_id, qe, qn, cluster_id FROM (
            SELECT q.query_id, q.qe, q.qn, c.cid AS cluster_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${duckDot("q.qe", "c.ce")} / (q.qn * c.cn) DESC,
                c.cid) AS pr
            FROM q CROSS JOIN cents c) WHERE pr <= 4),
        pq AS (SELECT p.query_id, p.qe, p.qn, p.cluster_id,
            ${duckDot("p.qe", "c.ce")} AS qc
          FROM probes p JOIN cents c ON c.cid = p.cluster_id),
        subdot AS (SELECT p.query_id, i.vec_id, s.sub,
            list_reduce(list_transform(range(1, 9),
              k -> CAST(p.qe[s.sub * 8 + k] AS DOUBLE) * b.cw[k]),
              (x, y) -> x + y) AS sd
          FROM pq p JOIN idx i ON i.cluster_id = p.cluster_id
            AND i.vec_id <> p.query_id,
            (SELECT unnest(range(0, 8)) AS sub) s
          JOIN cb b ON b.sub = s.sub
            AND b.code_id = i.codes[s.sub + 1]),
        adc AS (SELECT query_id, vec_id,
            list_reduce(list(sd ORDER BY sub), (x, y) -> x + y) AS adcsum
          FROM subdot GROUP BY query_id, vec_id),
        cand AS (SELECT query_id, qe, qn, neighbor_id FROM (
            SELECT p.query_id, p.qe, p.qn, a.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (p.qc + a.adcsum) / (p.qn * v.vn) DESC, a.vec_id) AS cr
            FROM adc a JOIN idx v ON v.vec_id = a.vec_id
            JOIN pq p ON p.query_id = a.query_id
              AND p.cluster_id = v.cluster_id) WHERE cr <= 24),
        rr AS (SELECT c.query_id, c.neighbor_id,
            round(${duckDot("c.qe", "e.embedding")} / (c.qn * e.nrm), 6)
              AS cosine
          FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
        den AS (SELECT neighbor_id AS doc_id,
            CAST(rank AS BIGINT) AS drank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rank FROM rr)
          WHERE rank <= 20)
      SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lrank, d.drank,
        coalesce(1000000000 // (60 + l.lrank), 0)
          + coalesce(1000000000 // (60 + d.drank), 0) AS rrf_nano
      FROM lex l FULL OUTER JOIN den d ON d.doc_id = l.doc_id
      ORDER BY rrf_nano DESC, doc_id LIMIT 15"""))

  val all: Seq[Q] = Seq(q33CosinePairs, q34AnnTopk, q35AnnIvf, q75VectorNorms,
    q99EmbedLsh, q130QuantizeEmbed, q141SemDedup, q148IncrementalIvf,
    q150IvfPq, q156ClusterSample, q163PqCodebooks, q166HybridRrf,
    q170AdcSearch, q172AdcIngest, q174HardNegatives, q180AdcCompact,
    q191AdcTiered, q193SemanticDecon, q194RecallDrift, q198VectorDelete,
    q201FilteredAnn, q204AdcRetrain, q181MmrDiversify,
    q183RetrievalMetrics, q184WarehouseRrf)
}
