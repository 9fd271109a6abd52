package graft.vector

import graft.core.{QueryDef, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings.embedding: array<float>`.
  *
  * Numeric design for the oracle: embeddings are quantized to integer
  * milli-units (`floor(double(x) * 1000)`), so dot products and squared norms
  * are exact 64-bit integers — associative, partitioning-independent, and
  * identical in any engine. Only the final cosine (one division, two sqrts on
  * identical doubles) is floating point, and those ops are IEEE-exact.
  *
  * Scale shapes:
  *  - brute-force top-k: broadcast the (small) query set against the candidate
  *    table — a narrow map + per-partition top-k; no shuffle of the big side.
  *  - IVF: coarse-quantize candidates into cells (here: the `label` column as
  *    the cell id, centroids computed exactly), probe the nearest cells only —
  *    the candidate scan drops by ~cells/probes; this is the 100 TB path.
  */
object Similarity {

  /** Quantized embedding + exact integer squared norm. */
  private val qvec = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"

  private val qvecSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))"
  private def dotSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) AS BIGINT)"

  /** The ONE definition of the seeded integer-Lloyd oracle fragments every
    * k-means-backed gate row replays (IVF cells, SemDeDup, PQ codebooks,
    * IVF+PQ, the streaming encoder): squared-integer distance, the
    * (dist, cell) tie-broken nearest-centroid assignment, the
    * floor(sum/count) centroid update over a `p`-dims CTE, and the
    * order-by-vec_id seeding. Five query families must stay bit-identical
    * in these formulas or their oracles fork from the shared engine-side
    * trainer ([[kmeansCells]] / [[pqCodebooksPinned]]) — parameterize,
    * never copy.
    */
  private object KmeansSql {
    def dist(v: String, c: String): String =
      s"CAST(list_sum(list_transform(range(1, len($v) + 1), i -> ($v[i] - $c[i]) * ($v[i] - $c[i]))) AS BIGINT)"

    /** Assignment CTE: nearest centroid per vector; `carry` columns from
      * `from` (aliased `z`) ride along into the output.
      */
    def assign(from: String, cents: String, out: String,
        carry: Seq[String] = Seq("vec_id", "q")): String = {
      val cols = carry.mkString(", ")
      val src = carry.map(c => s"z.$c").mkString(", ")
      s"""$out AS (
         |  SELECT $cols, cell FROM (
         |    SELECT $cols, cell,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM (SELECT $src, c.cell, ${dist("z.q", "c.cent")} AS dist
         |          FROM $from z, $cents c))
         |  WHERE rn = 1)""".stripMargin
    }

    /** Centroid update CTE: per-cell floor-mean over the `dims` positions. */
    def update(from: String, out: String, dims: String = "dims"): String =
      s"""$out AS (
         |  SELECT cell, list(v ORDER BY p) AS cent FROM (
         |    SELECT cell, p, CAST(floor(CAST(SUM(q[p]) AS DOUBLE) / count(*)) AS BIGINT) AS v
         |    FROM $from, $dims GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin

    /** Seeding CTE: first `k` vectors by id become cells 0..k-1. */
    def seeds(from: String, k: Int, out: String): String =
      s"""$out AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, q AS cent
         |  FROM (SELECT vec_id, q FROM $from ORDER BY vec_id LIMIT $k))""".stripMargin
  }

  /** embeddings -> (vec_id, label, q: array<bigint>, norm2: bigint). */
  def quantized(spark: SparkSession, dir: String): DataFrame = {
    val withQ = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "label", s"$qvec AS q")
    withQ.withColumn("norm2", VectorFunctions.longDot(col("q"), col("q")))
  }

  /** Brute-force cosine top-10 for a fixed small query set (vec_id < 5),
    * excluding self. Exact integer dot/norms; deterministic rank tiebreak on
    * candidate id.
    */
  val knnBrute: QueryDef = QueryDef(
    "knn_brute_cosine",
    s"""WITH q AS (
       |  SELECT vec_id, $qvecSql AS q,
       |         ${dotSql(qvecSql, qvecSql)} AS norm2
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |         CAST(${dotSql("a.q", "b.q")} AS DOUBLE)
       |           / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos_sim
       |  FROM (SELECT * FROM q WHERE vec_id < 5 AND norm2 > 0) a
       |  CROSS JOIN (SELECT * FROM q WHERE norm2 > 0) b
       |  WHERE b.vec_id <> a.vec_id)
       |SELECT query_id, cand_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
       |FROM (
       |  SELECT query_id, cand_id, cos_sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 10""".stripMargin) { (spark, dir) =>
    val q = quantized(spark, dir).filter(col("norm2") > 0)
    val queries = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("norm2").as("na"))
    val cands = q.select(col("vec_id").as("cand_id"), col("q").as("qb"), col("norm2").as("nb"))
    val scored = cands.join(broadcast(queries), col("cand_id") =!= col("query_id"))
      .withColumn("dot", VectorFunctions.longDot(col("qa"), col("qb")))
      .withColumn("cos_sim",
        col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rnk").cast("int").as("rnk"))
  }

  /** Embedding-cosine near-dup scan between consecutive vectors (exact,
    * oracle-checked; the LSH/IVF candidate generation for all-pairs near-dup
    * at scale is demonstrated by `ann_ivf_probe` below and Dedup's LSH).
    */
  val cosineConsecutive: QueryDef = QueryDef(
    "embedding_cosine_consecutive",
    s"""WITH q AS (
       |  SELECT vec_id, $qvecSql AS q,
       |         ${dotSql(qvecSql, qvecSql)} AS norm2
       |  FROM embeddings)
       |SELECT a.vec_id AS vec_id, b.vec_id AS next_vec_id,
       |       CAST(${dotSql("a.q", "b.q")} AS DOUBLE)
       |         / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos_sim
       |FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
       |WHERE a.norm2 > 0 AND b.norm2 > 0""".stripMargin) { (spark, dir) =>
    val q = quantized(spark, dir).filter(col("norm2") > 0)
    val a = q.select(col("vec_id"), col("q").as("qa"), col("norm2").as("na"))
    val b = q.select(col("vec_id").as("next_vec_id"), col("q").as("qb"), col("norm2").as("nb"))
    a.join(b, col("next_vec_id") === col("vec_id") + 1)
      .withColumn("dot", VectorFunctions.longDot(col("qa"), col("qb")))
      .select(
        col("vec_id"), col("next_vec_id"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))).as("cos_sim"))
  }

  /** IVF-style ANN: cells = `label`; exact integer centroids per cell; each
    * query probes its 2 nearest cells and ranks only those candidates.
    * ScalaTest asserts recall vs brute force.
    *
    * Oracle: the entire IVF structure is deterministic arithmetic — integer
    * centroid sums, double division, and left-to-right IEEE folds both
    * engines perform in array order — so DuckDB replays centroid build,
    * probe, and pruned ranking bit-for-bit.
    */
  val annIvfProbe: QueryDef = QueryDef(
    "ann_ivf_probe",
    s"""WITH q0 AS (
       |  SELECT vec_id, label, $qvecSql AS q,
       |         ${dotSql(qvecSql, qvecSql)} AS norm2
       |  FROM embeddings),
       |nz AS (SELECT * FROM q0 WHERE norm2 > 0),
       |dims AS (SELECT unnest(range(1, (SELECT max(len(q)) FROM nz) + 1)) AS p),
       |pos AS (
       |  SELECT label, p, CAST(SUM(q[p]) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |  FROM nz, dims
       |  GROUP BY 1, 2),
       |cents AS (
       |  SELECT label AS cell,
       |         list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY p) AS centroid
       |  FROM pos GROUP BY 1),
       |queries AS (SELECT vec_id AS query_id, q AS qa, norm2 AS na FROM nz WHERE vec_id < 5),
       |probed AS (
       |  SELECT query_id, qa, na, c.cell,
       |    list_sum(list_transform(range(1, len(qa) + 1),
       |                            i -> CAST(qa[i] AS DOUBLE) * c.centroid[i])) AS cdot,
       |    sqrt(list_sum(list_transform(c.centroid, x -> x * x))) AS cnorm
       |  FROM queries, cents c),
       |cells AS (
       |  SELECT query_id, qa, na, cell FROM (
       |    SELECT *, cdot / (sqrt(CAST(na AS DOUBLE)) * cnorm) AS ccos,
       |           row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cell) AS prb
       |    FROM probed)
       |  WHERE prb <= 2),
       |scored AS (
       |  SELECT c.query_id, c.cell, d.vec_id AS cand_id,
       |    CAST(${dotSql("c.qa", "d.q")} AS DOUBLE)
       |      / (sqrt(CAST(c.na AS DOUBLE)) * sqrt(CAST(d.norm2 AS DOUBLE))) AS cos_sim
       |  FROM cells c JOIN nz d ON d.label = c.cell
       |  WHERE d.vec_id <> c.query_id)
       |SELECT query_id, cell, cand_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
       |      FROM scored)
       |WHERE rnk <= 10""".stripMargin) { (spark, dir) =>
    val q = quantized(spark, dir).filter(col("norm2") > 0)

    // Exact per-cell centroids: posexplode to (cell, dim) and sum — fully
    // associative partial aggregation, no whole-vector collect on the way.
    val cents = q
      .select(col("label"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, s, n))), " +
          "e -> CAST(e.s AS DOUBLE) / CAST(e.n AS DOUBLE))").as("centroid"))
      .select(col("label").as("cell"), col("centroid"))

    val queries = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("norm2").as("na"))

    // Probe: 2 nearest centroids per query by cosine against the centroid.
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("cdot",
        expr("aggregate(zip_with(qa, centroid, (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"))
      .withColumn("cnorm",
        expr("sqrt(aggregate(transform(centroid, x -> x * x), 0.0D, (acc, v) -> acc + v))"))
      .withColumn("ccos", col("cdot") / (sqrt(col("na").cast("double")) * col("cnorm")))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))
    val cells = probed
      .withColumn("prb", row_number().over(wProbe))
      .filter(col("prb") <= 2)
      .select(col("query_id"), col("qa"), col("na"), col("cell"))

    // Pruned candidate scan: only vectors in the probed cells.
    val cands = q.select(col("vec_id").as("cand_id"), col("label").as("cell"),
      col("q").as("qb"), col("norm2").as("nb"))
    val scored = cands.join(broadcast(cells), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("dot", VectorFunctions.longDot(col("qa"), col("qb")))
      .withColumn("cos_sim",
        col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("cell"), col("cand_id"), col("cos_sim"), col("rnk").cast("int").as("rnk"))
  }

  // ---- k-means IVF -------------------------------------------------------

  private val KmeansK = 8
  private val KmeansIters = 2
  private val KmeansProbes = 2

  /** Nearest-centroid assignment against driver-held centroid literals:
    * exact integer squared-Euclidean distance, ties to the smaller cell id
    * (`array_min` over (dist, cell) structs orders lexicographically). With
    * literal centroids the whole assignment is one codegen'd row-local
    * expression — the vector table never shuffles to be assigned.
    */
  private def assignExpr(cents: Seq[(Long, Array[Long])]) = {
    val dists = cents.map { case (cell, c) =>
      struct(
        aggregate(
          zip_with(col("q"), typedLit(c.toSeq), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("dist"),
        lit(cell).as("cell"))
    }
    array_min(array(dists: _*)).getField("cell")
  }

  /** Lloyd's k-means over a quantized frame (`vec_id, q, norm2`), built for
    * bit-exact cross-engine replay: seeds are the `k` lowest vec_ids,
    * centroids are element-wise floor(sum/count) (exact: integer sums,
    * double-exact division, floor), distance is exact integer squared
    * Euclidean, ties to the smaller cell. Centroids live on the driver
    * (k×dim longs — bounded model state, the same shape MLlib's KMeans
    * broadcasts); each iteration is one scan + one k×dim aggregate.
    * Returns the assigned frame (+ `cell`) and the final centroids.
    */
  def kmeansCells(q: DataFrame, k: Int, iters: Int): (DataFrame, Seq[(Long, Array[Long])]) = {
    // Rebalance the narrow training frame once, up front: every Lloyd
    // iteration and the returned assignment pay a k x dim distance loop
    // (plus a posexplode) PER ROW, and the whole thing otherwise inherits
    // the input scan's layout — one task on a single-row-group file
    // (guide §2.4/§8: the shuffled bytes are the 2-3 column projection,
    // noise next to the per-row compute at any scale).
    val fanned = graft.core.Par.fanOut(q)
    // persist across the Lloyd iterations — the standard iterative-ML
    // pattern (each iteration re-reads the training set; without the cache
    // every pass re-scans and re-quantizes the source)
    val cached = fanned.persist()
    try {
      val seedRows =
        cached.select(col("vec_id"), col("q")).orderBy(col("vec_id")).limit(k).collect()
      if (seedRows.isEmpty) return (q.withColumn("cell", lit(0L)), Seq.empty)
      var cents: Seq[(Long, Array[Long])] = seedRows.zipWithIndex.map { case (r, i) =>
        (i.toLong, r.getSeq[Long](1).toArray)
      }
      for (_ <- 1 to iters) {
        val stats = cached.withColumn("cell", assignExpr(cents))
          .select(col("cell"), posexplode(col("q")).as(Seq("p", "v")))
          .groupBy(col("cell"), col("p"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect() // k x dim rows — bounded model state
        cents = stats.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (cell, rows) =>
          val arr = rows.sortBy(_.getInt(1))
            .map(r => math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong).toArray
          (cell, arr)
        }
      }
      // final assignment on the UNcached (but still fanned) frame: the
      // returned plan must not depend on a block this method is about to
      // release, and it pays the same per-row distance loop
      (fanned.withColumn("cell", assignExpr(cents)), cents)
    } finally cached.unpersist(blocking = false)
  }

  /** IVF with LEARNED cells: k-means (seeded, 2 Lloyd iterations, exact
    * integer arithmetic throughout — see [[kmeansCells]]) instead of the
    * `label` column as the coarse quantizer; each query probes its
    * [[KmeansProbes]] nearest centroids by the same integer distance and
    * ranks only those cells' candidates by exact cosine. The DuckDB oracle
    * replays seeding, both Lloyd iterations, probing, and ranking
    * bit-for-bit, so the hash match proves the whole learned structure.
    */
  val annIvfKmeans: QueryDef = {
    import KmeansSql.{dist, update}
    def assign(from: String, cents: String, out: String) =
      KmeansSql.assign(from, cents, out, Seq("vec_id", "q", "norm2"))
    QueryDef(
      "ann_ivf_kmeans",
      s"""WITH q0 AS (
         |  SELECT vec_id, $qvecSql AS q,
         |         ${dotSql(qvecSql, qvecSql)} AS norm2
         |  FROM embeddings),
         |nz AS (SELECT * FROM q0 WHERE norm2 > 0),
         |dims AS (SELECT unnest(range(1, (SELECT max(len(q)) FROM nz) + 1)) AS p),
         |${KmeansSql.seeds("nz", KmeansK, "c0")},
         |${assign("nz", "c0", "a1")},
         |${update("a1", "c1")},
         |${assign("nz", "c1", "a2")},
         |${update("a2", "c2")},
         |${assign("nz", "c2", "a3")},
         |queries AS (SELECT vec_id AS query_id, q AS qa, norm2 AS na FROM nz WHERE vec_id < 5),
         |probed AS (
         |  SELECT query_id, qa, na, c.cell, ${dist("qa", "c.cent")} AS dist
         |  FROM queries, c2 c),
         |cells AS (
         |  SELECT query_id, qa, na, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS prb
         |    FROM probed)
         |  WHERE prb <= $KmeansProbes),
         |scored AS (
         |  SELECT c.query_id, c.cell, d.vec_id AS cand_id,
         |    CAST(${dotSql("c.qa", "d.q")} AS DOUBLE)
         |      / (sqrt(CAST(c.na AS DOUBLE)) * sqrt(CAST(d.norm2 AS DOUBLE))) AS cos_sim
         |  FROM cells c JOIN a3 d ON d.cell = c.cell
         |  WHERE d.vec_id <> c.query_id)
         |SELECT query_id, cell, cand_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
         |      FROM scored)
         |WHERE rnk <= 10""".stripMargin) { (spark, dir) =>
      val q = quantized(spark, dir).filter(col("norm2") > 0).select("vec_id", "q", "norm2")
      val (assigned, cents) = kmeansCells(q, KmeansK, KmeansIters)
      if (cents.isEmpty) {
        assigned.select(
          col("vec_id").as("query_id"), col("cell"), col("vec_id").as("cand_id"),
          lit(0.0).as("cos_sim"), lit(0).as("rnk")).limit(0)
      } else {
        // probe: the KmeansProbes nearest final centroids per query, by the
        // same exact integer distance — slice of the sorted (dist, cell) array
        val distStructs = cents.map { case (cell, c) =>
          struct(
            aggregate(
              zip_with(col("qa"), typedLit(c.toSeq), (x, y) => (x - y) * (x - y)),
              lit(0L), (acc, v) => acc + v).as("dist"),
            lit(cell).as("cell"))
        }
        val queries = q.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("q").as("qa"), col("norm2").as("na"))
          .withColumn("cell",
            explode(slice(sort_array(array(distStructs: _*)), 1, KmeansProbes).getField("cell")))
        val cands = assigned.select(
          col("vec_id").as("cand_id"), col("cell"), col("q").as("qb"), col("norm2").as("nb"))
        val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("cand_id"))
        cands.join(broadcast(queries), Seq("cell"))
          .filter(col("cand_id") =!= col("query_id"))
          .withColumn("dot", VectorFunctions.longDot(col("qa"), col("qb")))
          .withColumn("cos_sim",
            col("dot").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(col("query_id"), col("cell"), col("cand_id"), col("cos_sim"),
            col("rnk").cast("int").as("rnk"))
      }
    }
  }

  /** Embedding near-dup at scale: banded random-hyperplane LSH
    * (4 bands × 8 hyperplanes). Each pseudo-hyperplane is a deterministic
    * ±1 vector (sign of splitmix64(plane, dim)), so a signature bit is the
    * sign of an exact integer dot product. Vectors sharing any band's 8-bit
    * signature become candidates; candidate generation shuffles only
    * `(vec_id, band, key)` rows (linear — never O(n²) pairs), and
    * candidates are verified with the exact integer-cosine.
    *
    * A hyperplane bit agrees with probability p = 1 − θ/π, so a pair
    * collides in ≥1 band with probability 1 − (1 − p^8)^4 — the banded OR
    * keeps recall high well below θ≈0 (p.e. ~0.9 at cos 0.9, ~0.97 at cos
    * 0.95) where the previous single 16-bit signature (p^16) had already
    * collapsed. Random pairs still land together at only ~4·2^-8.
    */
  private val LshBands = 4
  private val LshRowsPerBand = 8

  /** splitmix64 — public-domain mix function; seeds the deterministic ±1
    * hyperplane matrix (row-invariant, so it's built once on the driver and
    * embedded as literal arrays — the per-row work is 32 codegen'd integer
    * dot products, not interpreted per-element lambdas).
    */
  private def splitmix64(seed: Long): Long = {
    var x = seed + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** (vec_id, band, key) band-signature rows for a quantized frame
    * (columns `vec_id`, `q`): `key` is the band's sign pattern over its
    * hyperplanes. Exposed for the streaming/spec reuse.
    *
    * Sizing: random vectors share a b-bit band key with probability ~2^-b,
    * so expected candidate pairs are ~bands · n²/2^(b+1) — subquadratic
    * only while 2^b ≳ n. The (4 × 8) default is tuned for the gate corpora
    * (n ≤ ~10⁴); at larger n, widen `rowsPerBand` toward ~log₂(n)+4 bits
    * (and add bands to keep recall) — the recall/cost trade is the standard
    * hyperplane-LSH tuning knob, not a fixed property of the operator.
    */
  def hyperplaneBandKeys(
      quantized: DataFrame, dim: Int,
      bands: Int = LshBands, rowsPerBand: Int = LshRowsPerBand): DataFrame = {
    def sign(j: Int, d: Int): Long =
      if ((splitmix64(j.toLong * 131071L + d) & 1L) == 1L) 1L else -1L
    val bandSigs = (0 until bands).map { b =>
      (0 until rowsPerBand).map { r =>
        val j = b * rowsPerBand + r
        val plane = typedLit((0 until dim).map(d => sign(j, d)))
        when(VectorFunctions.longDot(col("q"), plane) > 0L, lit(1L << r)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    quantized
      .withColumn("__bands", array(bandSigs: _*))
      .select(col("vec_id"), posexplode(col("__bands")).as(Seq("band", "key")))
  }

  /** Oracle: the exhaustive O(n²) cosine scan in DuckDB — equality proves
    * the LSH-accelerated scan finds exactly what brute force finds (this
    * corpus has no pair ≥ 0.95 at any SF — max cosine ~0.6 — so both sides
    * are empty; SimilaritySpec plants near-dups to prove the non-vacuous
    * behavior).
    */
  val embeddingLshNearDup: QueryDef = QueryDef(
    "dedup_embedding_lsh",
    s"""WITH q AS (
       |  SELECT vec_id, $qvecSql AS q,
       |         ${dotSql(qvecSql, qvecSql)} AS norm2
       |  FROM embeddings),
       |nz AS (SELECT * FROM q WHERE norm2 > 0)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  CAST(${dotSql("a.q", "b.q")} AS DOUBLE)
       |    / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos_sim
       |FROM nz a JOIN nz b ON b.vec_id > a.vec_id
       |WHERE CAST(${dotSql("a.q", "b.q")} AS DOUBLE)
       |    / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) >= 0.95""".stripMargin) { (spark, dir) =>
    // fan the narrow (id, vec) rows out first: the hyperplane band keys and
    // both verify sides re-derive per-row dot products from this frame, all
    // off the single-row-group scan's one-task layout (guide §2.4/§8)
    lshNearDupPairs(
      graft.core.Par.fanOut(quantized(spark, dir).filter(col("norm2") > 0)), 0.95)
  }

  /** SEMANTIC dedup, SemDeDup-style (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding corpus with k-means, then prune near-identical
    * pairs WITHIN each cluster only — the curation technique that removes
    * semantically redundant training documents where exact/MinHash dedup
    * sees different strings. The quadratic term is bounded by cluster
    * size: candidate volume is Σ|cell|², never |corpus|² (at 100 TB, k
    * scales with the corpus so cells stay constant-sized; assignment is
    * one scan against broadcast centroids — the k-means-IVF shape). The
    * deliberate recall trade (a cross-cluster near-dup pair is NOT
    * examined) is part of the technique, and the oracle states the SAME
    * semantics: it replays the seeded integer Lloyd training bit-for-bit
    * (the `ann_ivf_kmeans` machinery — coarse centroids shared with the
    * IVF-PQ family via the pinned registry) and filters pairs within the
    * replayed cells, so the hash match proves the learned clustering AND
    * the within-cluster prune set.
    */
  /** Oracle CTE chain shared by the SemDeDup pair ([[semanticDedup]]) and
    * prune ([[semanticDedupPrune]]) rows: quantize, drop zero vectors,
    * replay the seeded 3-round integer Lloyd training bit-for-bit, assign
    * every vector to its cell (`a3`), and materialize the within-cell
    * near-dup pairs at 0.9 (`pairs`).
    */
  private def semanticAssignSql(from: String, cents: String, out: String): String =
    KmeansSql.assign(from, cents, out, Seq("vec_id", "q", "norm2"))

  private lazy val semanticOracleCtes: String = {
    import KmeansSql.update
    def assign(from: String, cents: String, out: String) =
      semanticAssignSql(from, cents, out)
    s"""q0 AS (
       |  SELECT vec_id, $qvecSql AS q,
       |         ${dotSql(qvecSql, qvecSql)} AS norm2
       |  FROM embeddings),
       |nz AS (SELECT * FROM q0 WHERE norm2 > 0),
       |dims AS (SELECT unnest(range(1, (SELECT max(len(q)) FROM nz) + 1)) AS p),
       |${KmeansSql.seeds("nz", KmeansK, "c0")},
       |${assign("nz", "c0", "a1")},
       |${update("a1", "c1")},
       |${assign("nz", "c1", "a2")},
       |${update("a2", "c2")},
       |${assign("nz", "c2", "a3")},
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell AS cell,
       |    CAST(${dotSql("a.q", "b.q")} AS DOUBLE)
       |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos_sim
       |  FROM a3 a JOIN a3 b ON b.cell = a.cell AND b.vec_id > a.vec_id
       |  WHERE CAST(${dotSql("a.q", "b.q")} AS DOUBLE)
       |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) >= 0.9)""".stripMargin
  }

  /** Engine half of the shared machinery: the cell-assigned frame and the
    * within-cell near-dup pairs over it. None when the corpus is empty
    * (no centroids to train — callers emit an empty typed frame).
    */
  private def semanticAssignedAndPairs(
      spark: SparkSession, dir: String): Option[(DataFrame, DataFrame)] = {
    // fanned for the same reason as the PQ encode passes: the per-row
    // k x dim cell assignment below otherwise runs in the scan's one task
    val q = graft.core.Par.fanOut(
      quantized(spark, dir).filter(col("norm2") > 0).select("vec_id", "q", "norm2"))
    val cents = ivfPqCoarsePinned(spark, dir)
    if (cents.isEmpty) None
    else {
      val assigned = q.withColumn("cell", assignExpr(cents))
      val a = assigned.select(
        col("vec_id").as("vec_a"), col("cell"), col("q").as("qa"), col("norm2").as("na"))
      val b = assigned.select(
        col("vec_id").as("vec_b"), col("cell"), col("q").as("qb"), col("norm2").as("nb"))
      val pairs = a.join(b, Seq("cell"))
        .filter(col("vec_b") > col("vec_a"))
        .withColumn("dot", VectorFunctions.longDot(col("qa"), col("qb")))
        .withColumn("cos_sim",
          col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        .filter(col("cos_sim") >= 0.9)
        .select(col("vec_a"), col("vec_b"), col("cell"), col("cos_sim"))
      Some((assigned, pairs))
    }
  }

  val semanticDedup: QueryDef = QueryDef(
    "semantic_dedup",
    s"""WITH $semanticOracleCtes
       |SELECT vec_a, vec_b, cell, cos_sim FROM pairs""".stripMargin) { (spark, dir) =>
    semanticAssignedAndPairs(spark, dir) match {
      case None =>
        quantized(spark, dir).select(
          col("vec_id").as("vec_a"), col("vec_id").as("vec_b"),
          lit(0L).as("cell"), lit(0.0).as("cos_sim")).limit(0)
      case Some((_, pairs)) => pairs
    }
  }

  /** OPERATIONAL SemDeDup — the keep/drop decision the pair list feeds
    * (Abbas et al. 2023 §3: within each cluster keep one representative
    * of every near-dup neighborhood): a document is DROPPED iff some
    * LOWER-id document in its cell is ≥ 0.9-similar to it — the
    * deterministic, non-iterative relational form of the prune (the
    * id-least member of every neighborhood always survives; a chain
    * b~a, c~b drops both b and c, the conservative over-prune SemDeDup's
    * own greedy accepts). Emits one row per clustered document
    * `(vec_id, cell, kept)`, ready to feed `corpus_filter_funnel`-style
    * accounting.
    *
    * The pruned corpus is the nonzero originals AUGMENTED with a
    * deterministically jittered copy of every 5th document (id+100000,
    * ±1 integer jitter per coordinate): the synthetic embeddings carry no
    * natural near-dups (max pairwise cosine ≈ 0.51 corpus-wide), so
    * without the fixture every row would be kept and the drop branch
    * untested — with it, each copy lands in its original's cell at
    * cosine ≈ 1 and must be dropped while the original survives. The
    * oracle replays the training, the augmentation, and the keep rule,
    * so the hash pins the full decision set, drops included. At scale
    * the drop set is an anti-join on vec_id — no new quadratic term
    * beyond the Σ|cell|² candidate volume the pair scan already bounds.
    */
  val semanticDedupPrune: QueryDef = QueryDef(
    "semantic_dedup_prune",
    s"""WITH $semanticOracleCtes,
       |aug AS (
       |  SELECT vec_id, q, norm2 FROM nz
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, qj AS q,
       |         ${dotSql("qj", "qj")} AS norm2
       |  FROM (
       |    SELECT vec_id,
       |      list_transform(range(0, len(q)), i -> q[i + 1] + (vec_id + i) % 3 - 1) AS qj
       |    FROM nz WHERE vec_id % 5 = 0)),
       |${semanticAssignSql("aug", "c2", "a3aug")},
       |pairs_aug AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM a3aug a JOIN a3aug b ON b.cell = a.cell AND b.vec_id > a.vec_id
       |  WHERE CAST(${dotSql("a.q", "b.q")} AS DOUBLE)
       |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) >= 0.9)
       |SELECT v.vec_id, v.cell,
       |       v.vec_id NOT IN (SELECT vec_b FROM pairs_aug) AS kept
       |FROM a3aug v""".stripMargin) { (spark, dir) =>
    val base = quantized(spark, dir).filter(col("norm2") > 0).select("vec_id", "q", "norm2")
    val copies = base.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        expr("transform(q, (x, i) -> x + (vec_id + i) % 3 - 1)").as("q"))
      .select((col("vec_id") + 100000L).as("vec_id"), col("q"),
        VectorFunctions.longDot(col("q"), col("q")).as("norm2"))
    val aug = base.unionAll(copies)
    val cents = ivfPqCoarsePinned(spark, dir)
    if (cents.isEmpty) {
      base.select(col("vec_id"), lit(0L).as("cell"), lit(true).as("kept")).limit(0)
    } else {
      val assigned = aug.withColumn("cell", assignExpr(cents))
      val a = assigned.select(
        col("vec_id").as("vec_a"), col("cell"), col("q").as("qa"), col("norm2").as("na"))
      val b = assigned.select(
        col("vec_id").as("vec_b"), col("cell"), col("q").as("qb"), col("norm2").as("nb"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("vec_b") > col("vec_a"))
        .withColumn("dot", VectorFunctions.longDot(col("qa"), col("qb")))
        .filter(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))) >= 0.9)
        .select(col("vec_b").as("vec_id")).distinct()
        .withColumn("is_dropped", lit(true))
      assigned.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          not(coalesce(col("is_dropped"), lit(false))).as("kept"))
    }
  }

  /** Banded-LSH near-dup scan over a quantized frame
    * (`vec_id, q, norm2`): candidates from any shared band key, exact
    * integer-cosine verify at `threshold`. The band self-join carries only
    * ids and keys; vectors rejoin once for the (distinct) candidate pairs.
    * Candidate VOLUME follows the band sizing (see [[hyperplaneBandKeys]]):
    * widen `rowsPerBand` with corpus size to stay subquadratic.
    */
  def lshNearDupPairs(
      q: DataFrame, threshold: Double,
      bands: Int = LshBands, rowsPerBand: Int = LshRowsPerBand): DataFrame = {
    // empty input: any dim builds a valid (empty-result) plan — head() would throw
    val dim = q.select(size(col("q"))).take(1).headOption.map(_.getInt(0)).getOrElse(1)
    val keys = hyperplaneBandKeys(q, dim, bands, rowsPerBand)
    val candidates = keys.as("a")
      .join(keys.as("b"), Seq("band", "key"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b") // a pair may collide in several bands
    val va = q.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("norm2").as("na"))
    val vb = q.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("norm2").as("nb"))
    candidates.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("dot", VectorFunctions.longDot(col("qa"), col("qb")))
      .withColumn("cos_sim",
        col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Symmetric int8 quantization (max-abs scale per vector) with exact
    * round-trip error accounting — the storage/bandwidth step every
    * 100 TB embedding corpus goes through before ANN serving. Entirely
    * row-local (no shuffle, whole-stage codegen over array lambdas); the
    * arithmetic is engine-portable because every element passes through
    * the same fixed op chain (double widen → *127/scale → floor(x+0.5),
    * never round(), whose half-even vs half-away tie rule differs across
    * engines). `q_sum`/`n_saturated` summarize the quantized vector
    * order-independently; `max_abs_err` bounds dequantization loss and is
    * structurally ≤ scale/254 + float-widening noise.
    */
  val embeddingQuantizeInt8: QueryDef = QueryDef(
    "embedding_quantize_int8",
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
      |           AS qscale
      |  FROM embeddings),
      |qq AS (
      |  SELECT vec_id, embedding, qscale,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / qscale + 0.5) AS BIGINT)) AS q
      |  FROM s WHERE qscale > 0)
      |SELECT vec_id, qscale,
      |  CAST(len(q) AS INTEGER) AS n_dims,
      |  CAST(list_sum(q) AS BIGINT) AS q_sum,
      |  CAST(len(list_filter(q, v -> v = 127 OR v = -127)) AS INTEGER) AS n_saturated,
      |  list_aggregate(list_transform(range(1, len(q) + 1),
      |    i -> abs(CAST(q[i] AS DOUBLE) * qscale / 127.0 - CAST(embedding[i] AS DOUBLE))),
      |    'max') AS max_abs_err
      |FROM qq""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "embedding",
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS qscale")
      .filter(col("qscale") > 0)
      .selectExpr("vec_id", "embedding", "qscale",
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / qscale + 0.5) AS BIGINT)) AS q")
      .selectExpr(
        "vec_id", "qscale",
        "CAST(size(q) AS INTEGER) AS n_dims",
        "aggregate(q, 0L, (acc, v) -> acc + v) AS q_sum",
        "CAST(size(filter(q, v -> v = 127 OR v = -127)) AS INTEGER) AS n_saturated",
        """array_max(transform(sequence(1, size(q)),
          |  i -> abs(CAST(element_at(q, i) AS DOUBLE) * qscale / 127.0
          |           - CAST(element_at(embedding, i) AS DOUBLE)))) AS max_abs_err""".stripMargin)
  }

  /** Exact Gram matrix of the embedding corpus (upper triangle): for every
    * dimension pair i ≤ j, the integer sum of q_i·q_j over all vectors plus
    * its per-vector mean — the Σ xxᵀ statistic behind PCA / whitening /
    * covariance-based drift monitors. The outer product is expanded
    * ROW-LOCALLY (d(d+1)/2 = 2080 structs per vector for d = 64, one
    * codegen'd `transform` nest — no self-join anywhere), and the one
    * shuffle is a map-side-combined aggregate whose key space is the fixed
    * 2080 dimension pairs — so reduce-side work is constant in corpus size,
    * the textbook 100 TB shape for moment accumulation. Products stay exact
    * int64 far past 10^10 vectors (|q| ≤ ~10^3 ⇒ |p| ≤ 10^6 per row).
    */
  val embeddingGramMatrix: QueryDef = QueryDef(
    "embedding_gram_matrix",
    s"""WITH q AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM q),
       |pr AS (
       |  SELECT CAST(i AS INTEGER) AS dim_i, CAST(j AS INTEGER) AS dim_j, q[i] * q[j] AS p
       |  FROM q, UNNEST(range(1, len(q) + 1)) AS u(i), UNNEST(range(i, len(q) + 1)) AS v(j))
       |SELECT dim_i, dim_j, n.n_vecs, CAST(SUM(p) AS BIGINT) AS gram,
       |       CAST(SUM(p) AS DOUBLE) / CAST(n.n_vecs AS DOUBLE) AS gram_mean
       |FROM pr CROSS JOIN n
       |GROUP BY dim_i, dim_j, n.n_vecs""".stripMargin) { (spark, dir) =>
    // d(d+1)/2 = 2080 structs per vector: rebalance the narrow (id, vec)
    // rows BEFORE the expansion so it runs at the configured parallelism
    // (guide §2.4/§8 — measured: the whole explode+partial-agg ran in one
    // task off the single-row-group scan)
    val base = Tables.embeddings(spark, dir).selectExpr("vec_id", s"$qvec AS q")
    val q = graft.core.Par.fanOut(base)
    // the row count needs no fan-out (a plain column-pruned count) —
    // deriving it from the fanned frame carried a second
    // RoundRobinPartitioning exchange for nothing
    val n = base.agg(count(lit(1)).as("n_vecs"))
    q.select(explode(expr(
        """flatten(transform(sequence(1, size(q), 1),
          |  i -> transform(sequence(i, size(q), 1),
          |    j -> struct(CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
          |                element_at(q, i) * element_at(q, j) AS p))))""".stripMargin)).as("c"))
      .select(col("c.dim_i"), col("c.dim_j"), col("c.p"))
      .groupBy(col("dim_i"), col("dim_j"))
      .agg(sum(col("p")).as("gram"))
      .crossJoin(broadcast(n))
      .select(
        col("dim_i"), col("dim_j"), col("n_vecs"), col("gram"),
        (col("gram").cast("double") / col("n_vecs").cast("double")).as("gram_mean"))
  }

  /** Pairwise cosine between per-label centroid sums — the inter-cluster
    * similarity matrix every embedding-space monitor computes (are two data
    * sources/clusters collapsing onto each other?). The centroid SUM (not
    * the mean) is used for the cosine because cosine is scale-invariant:
    * `cos(Σa/n, Σb/m) = cos(Σa, Σb)`, and integer component sums stay
    * exact under any partitioning (a mean would be a double whose summation
    * order matters). Plan: one `posexplode` pass → a (label × dim)-keyed
    * map-side-combined aggregate (bounded at #labels·64 rows — the model
    * table), pinned; norms and the pairwise dot both derive from the pinned
    * table, the dot via a pos-keyed self-join whose inputs are model-sized.
    * At 100 TB the fact scan happens once and everything downstream is
    * constant-size. Component sums stay exact int64 to ~10^13 vectors per
    * label (|q| ≤ 10^3).
    */
  val labelCentroidCosine: QueryDef = QueryDef(
    "label_centroid_cosine",
    s"""WITH q AS (SELECT label, $qvecSql AS q FROM embeddings),
       |e AS (
       |  SELECT label, CAST(i AS INTEGER) AS pos, CAST(SUM(q[i]) AS BIGINT) AS s
       |  FROM q, UNNEST(range(1, len(q) + 1)) AS u(i)
       |  GROUP BY 1, 2),
       |n AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS norm2 FROM e GROUP BY 1),
       |d AS (
       |  SELECT a.label AS label_a, b.label AS label_b, CAST(SUM(a.s * b.s) AS BIGINT) AS dot
       |  FROM e a JOIN e b ON b.pos = a.pos AND b.label > a.label
       |  GROUP BY 1, 2)
       |SELECT d.label_a, d.label_b, d.dot,
       |  CAST(d.dot AS DOUBLE)
       |    / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos_sim
       |FROM d JOIN n na ON na.label = d.label_a
       |       JOIN n nb ON nb.label = d.label_b
       |WHERE na.norm2 > 0 AND nb.norm2 > 0""".stripMargin) { (spark, dir) =>
    // pin the (label, pos, s) component-sum table: it feeds the norm rollup
    // AND both sides of the pairwise-dot self-join — one corpus scan total
    val e = Tables.embeddings(spark, dir)
      .selectExpr("label", s"$qvec AS q")
      .select(col("label"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s"))
      .localCheckpoint()
    val norms = e.groupBy(col("label")).agg(sum(col("s") * col("s")).as("norm2"))
    e.as("a")
      .join(e.as("b"), col("b.pos") === col("a.pos") && col("b.label") > col("a.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.s") * col("b.s")).as("dot"))
      .join(broadcast(norms.select(col("label").as("label_a"), col("norm2").as("na"))), "label_a")
      .join(broadcast(norms.select(col("label").as("label_b"), col("norm2").as("nb"))), "label_b")
      .filter(col("na") > 0 && col("nb") > 0)
      .select(
        col("label_a"), col("label_b"), col("dot"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))).as("cos_sim"))
  }

  private val PqM = 4 // subspaces
  private val PqSub = 16 // dims per subspace (d = 64)
  private val PqK = 8 // codes per subspace
  private val PqIters = 2

  /** Session-pinned per-subspace PQ codebooks for a corpus — trained ONCE
    * per (session, dir) and shared by `ann_pq_adc` and `ann_ivf_pq`
    * (identical derivation ⇒ identical codebooks, which the IVF-PQ spec
    * asserts as metric identity on shared pairs). Re-training per
    * invocation re-scanned the corpus 2×M times; codebooks are the
    * canonical derive-once model state ([[graft.core.Pinned]] contract).
    */
  private def pqCodebooksPinned(
      spark: SparkSession, dir: String,
      sampled: Boolean = false): Seq[Seq[(Long, Array[Long])]] =
    graft.core.Pinned.value(
      spark, dir, if (sampled) "pq_codebooks_sample" else "pq_codebooks") {
      // sampled = the 100 TB training regime: Lloyd iterations scan only
      // the deterministic [[PqSampleSql]] quarter of the corpus (k-means
      // codebooks converge on a sample; FAISS trains on ~1% at scale),
      // while the encode pass — the part that must see every row — stays
      // one full linear scan. `ann_pq_train_sample` pins this regime.
      val base = quantized(spark, dir).filter(col("norm2") > 0)
      val train = if (sampled) base.filter(col("vec_id") % PqSampleMod === 0) else base
      val cached = train.select("vec_id", "q").persist()
      try (0 until PqM).map { m =>
        kmeansCells(
          cached.select(
            col("vec_id"), expr(s"slice(q, ${m * PqSub + 1}, $PqSub)").as("q")),
          PqK, PqIters)._2
      } finally cached.unpersist(blocking = false)
    }

  /** Deterministic training-sample predicate for `ann_pq_train_sample`
    * (restated verbatim in its oracle): every [[PqSampleMod]]-th vector.
    */
  private val PqSampleMod = 4

  /** Session-pinned coarse (full-vector) centroids for `ann_ivf_pq`. */
  private def ivfPqCoarsePinned(
      spark: SparkSession, dir: String): Seq[(Long, Array[Long])] =
    graft.core.Pinned.value(spark, dir, "ivf_pq_coarse") {
      kmeansCells(
        quantized(spark, dir).filter(col("norm2") > 0).select("vec_id", "q"),
        KmeansK, KmeansIters)._2
    }

  /** Product quantization with asymmetric distance (PQ-ADC) — the FAISS-
    * style FINE quantizer complementing the IVF coarse quantizer: each
    * 64-dim vector splits into [[PqM]] subspaces, a per-subspace k-means
    * ([[kmeansCells]] — same seeded, integer-exact Lloyd machinery as
    * `ann_ivf_kmeans`) learns [[PqK]] centroids, and every corpus vector
    * compresses to M codes (here 4 bytes vs 256 bytes raw — the 64×
    * memory reduction that makes billion-vector indexes fit in RAM).
    * Queries stay EXACT (asymmetric): approx distance = Σ_m
    * d²(query_slice_m, centroid[code_m]), computed per candidate from M
    * literal-map lookups — no full-vector arithmetic against the corpus.
    *
    * 100 TB shape: codes are computed in ONE corpus scan against
    * driver-held centroids (M×K×sub longs — bounded model state,
    * broadcast like MLlib model coefficients) and the ADC scan joins a
    * BROADCAST query batch against the codes table — shuffle only the
    * per-query top-k. At scale the training pass runs on a SAMPLE while
    * the encode pass stays one full linear scan — that regime is pinned
    * as its own gate query `ann_pq_train_sample` (`sampled = true`:
    * Lloyd iterations see only the deterministic [[PqSampleMod]]-modulus
    * quarter of the corpus, the oracle replays the same predicate). The
    * DuckDB oracle replays seeding, both Lloyd iterations per subspace,
    * code assignment, and the ADC ranking bit-for-bit (all-integer
    * arithmetic), so the hash match proves the entire learned structure,
    * not just the output shape.
    */
  private def pqAdcQueryDef(name: String, sampled: Boolean): QueryDef = {
    import KmeansSql.{assign, dist, update}
    val subCtes = (0 until PqM).map { m =>
      val off = m * PqSub + 1
      // sampled: the Lloyd passes (seed, a1, a2) train on t$m — the
      // deterministic modulus sample — while code assignment scans ALL of
      // s$m; unsampled: t$m IS s$m and the CTE is omitted
      val trainSrc = if (sampled) s"t$m" else s"s$m"
      val trainCte =
        if (sampled)
          s"\nt$m AS (SELECT vec_id, q FROM s$m WHERE vec_id % $PqSampleMod = 0),"
        else ""
      s"""s$m AS (SELECT vec_id, list_slice(q, $off, ${off + PqSub - 1}) AS q FROM nz),$trainCte
         |${KmeansSql.seeds(trainSrc, PqK, s"c${m}0")},
         |${assign(trainSrc, s"c${m}0", s"a${m}1")},
         |${update(s"a${m}1", s"c${m}1")},
         |${assign(trainSrc, s"c${m}1", s"a${m}2")},
         |${update(s"a${m}2", s"c${m}2")},
         |${assign(s"s$m", s"c${m}2", s"code$m", Seq("vec_id"))},
         |qs$m AS (SELECT query_id, list_slice(q, $off, ${off + PqSub - 1}) AS q FROM queries),
         |part$m AS (
         |  SELECT qs.query_id, k.vec_id AS cand_id, ${dist("qs.q", "c.cent")} AS d
         |  FROM qs$m qs, code$m k JOIN c${m}2 c ON c.cell = k.cell
         |  WHERE k.vec_id <> qs.query_id)""".stripMargin
    }
    val partsUnion = (0 until PqM)
      .map(m => s"SELECT * FROM part$m").mkString("\n  UNION ALL ")
    QueryDef(
      name,
      s"""WITH q0 AS (
         |  SELECT vec_id, $qvecSql AS q,
         |         ${dotSql(qvecSql, qvecSql)} AS norm2
         |  FROM embeddings),
         |nz AS (SELECT vec_id, q FROM q0 WHERE norm2 > 0),
         |dims AS (SELECT unnest(range(1, ${PqSub + 1})) AS p),
         |queries AS (SELECT vec_id AS query_id, q FROM nz WHERE vec_id < 5),
         |${subCtes.mkString(",\n")},
         |parts AS (
         |  $partsUnion),
         |total AS (
         |  SELECT query_id, cand_id, CAST(SUM(d) AS BIGINT) AS approx_dist
         |  FROM parts GROUP BY 1, 2)
         |SELECT query_id, cand_id, approx_dist, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_dist, cand_id) AS rnk
         |      FROM total)
         |WHERE rnk <= 10""".stripMargin) { (spark, dir) =>
      // fan the narrow (id, vec) rows out before the encode pass: every row
      // pays M x K x sub integer distance loops against literal centroids,
      // all inherited from the single-row-group scan's one-task layout
      // (guide §2.4/§8 — the shuffled bytes are the 2-column projection)
      val base = graft.core.Par.fanOut(
        quantized(spark, dir).filter(col("norm2") > 0).select("vec_id", "q"))
      locally {
        val centsPerSub = pqCodebooksPinned(spark, dir, sampled)
        if (centsPerSub.exists(_.isEmpty)) {
          base.select(
            col("vec_id").as("query_id"), col("vec_id").as("cand_id"),
            lit(0L).as("approx_dist"), lit(0).as("rnk")).limit(0)
        } else {
          // encode: ONE scan, M argmins against literal centroids
          def subSlice(m: Int) = expr(s"slice(q, ${m * PqSub + 1}, $PqSub)")
          def subDist(vec: org.apache.spark.sql.Column, cent: Array[Long]) =
            aggregate(
              zip_with(vec, typedLit(cent.toSeq), (x, y) => (x - y) * (x - y)),
              lit(0L), (acc, v) => acc + v)
          val codeCols = (0 until PqM).map { m =>
            val dists = centsPerSub(m).map { case (cell, c) =>
              struct(subDist(subSlice(m), c).as("dist"), lit(cell).as("cell"))
            }
            array_min(array(dists: _*)).getField("cell").as(s"c$m")
          }
          val codes = base.select(col("vec_id") +: codeCols: _*)
          val queries = base.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("q").as("qa"))
          // ADC: broadcast the query batch; per-(m, code) centroid via a
          // literal map so a vanished cell can never silently read nulls
          val centMaps = (0 until PqM).map(m =>
            typedLit(centsPerSub(m).map { case (cell, c) => cell -> c.toSeq }.toMap))
          val adcDist = (0 until PqM).map { m =>
            aggregate(
              zip_with(
                expr(s"slice(qa, ${m * PqSub + 1}, $PqSub)"),
                element_at(centMaps(m), col(s"c$m")),
                (x, y) => (x - y) * (x - y)),
              lit(0L), (acc, v) => acc + v)
          }.reduce(_ + _)
          val scored = codes
            .join(broadcast(queries), col("vec_id") =!= col("query_id"))
            .withColumn("approx_dist", adcDist)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("approx_dist"), col("vec_id"))
          scored
            .withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 10)
            .select(
              col("query_id"), col("vec_id").as("cand_id"),
              col("approx_dist"), col("rnk"))
        }
      }
    }
  }

  val annPqAdc: QueryDef = pqAdcQueryDef("ann_pq_adc", sampled = false)

  /** The 100 TB PQ training regime as a gate row: codebooks trained on the
    * deterministic [[PqSampleMod]]-modulus quarter of the corpus, the full
    * corpus encoded and ADC-ranked against them; the oracle replays the
    * sample predicate, so the hash match proves sampled training end to
    * end (see [[pqAdcQueryDef]]).
    */
  val annPqTrainSample: QueryDef = pqAdcQueryDef("ann_pq_train_sample", sampled = true)

  /** IVF-PQ — the composed FAISS-style index: the COARSE quantizer
    * (full-vector k-means, as `ann_ivf_kmeans`) prunes the candidate scan
    * to the probed cells' inverted lists, and the FINE quantizer (the
    * per-subspace PQ codebooks of [[annPqAdc]]) ranks those candidates by
    * asymmetric distance from their 4-byte codes — candidate metric cost
    * is M table lookups instead of a 64-dim dot product, and candidate
    * VOLUME is cells/probes-pruned. This is the memory/compute shape that
    * serves billion-vector corpora: inverted lists of codes, centroids
    * broadcast, one linear encode scan, per-query work bounded by probed
    * lists. (Classic refinement not modeled here: encoding RESIDUALS
    * v − coarse_centroid tightens the codebooks; the raw-vector PQ keeps
    * the oracle replay tractable and the structure identical.)
    *
    * Both learned structures and the composed ranking replay bit-for-bit
    * in the DuckDB oracle (exact integer arithmetic throughout).
    */
  val annIvfPq: QueryDef = {
    import KmeansSql.{assign, dist, seeds, update}
    val pqCtes = (0 until PqM).map { m =>
      val off = m * PqSub + 1
      s"""s$m AS (SELECT vec_id, list_slice(q, $off, ${off + PqSub - 1}) AS q FROM nz),
         |${seeds(s"s$m", PqK, s"c${m}0")},
         |${assign(s"s$m", s"c${m}0", s"a${m}1")},
         |${update(s"a${m}1", s"c${m}1")},
         |${assign(s"s$m", s"c${m}1", s"a${m}2")},
         |${update(s"a${m}2", s"c${m}2")},
         |${assign(s"s$m", s"c${m}2", s"code$m", Seq("vec_id"))},
         |part$m AS (
         |  SELECT c.query_id, c.cand_id, c.cell,
         |         ${dist(s"list_slice(c.qa, $off, ${off + PqSub - 1})", "ct.cent")} AS d
         |  FROM cand c JOIN code$m k ON k.vec_id = c.cand_id
         |              JOIN c${m}2 ct ON ct.cell = k.cell)""".stripMargin
    }
    val partsUnion = (0 until PqM)
      .map(m => s"SELECT * FROM part$m").mkString("\n  UNION ALL ")
    QueryDef(
      "ann_ivf_pq",
      s"""WITH q0 AS (
         |  SELECT vec_id, $qvecSql AS q,
         |         ${dotSql(qvecSql, qvecSql)} AS norm2
         |  FROM embeddings),
         |nz AS (SELECT vec_id, q FROM q0 WHERE norm2 > 0),
         |dims AS (SELECT unnest(range(1, ${PqSub + 1})) AS p),
         |dims64 AS (SELECT unnest(range(1, (SELECT max(len(q)) FROM nz) + 1)) AS p),
         |${seeds("nz", KmeansK, "k0")},
         |${assign("nz", "k0", "ka1")},
         |${update("ka1", "kc1", "dims64")},
         |${assign("nz", "kc1", "ka2")},
         |${update("ka2", "kc2", "dims64")},
         |${assign("nz", "kc2", "ka3")},
         |queries AS (SELECT vec_id AS query_id, q FROM nz WHERE vec_id < 5),
         |probed AS (
         |  SELECT query_id, q, c.cell, ${dist("q", "c.cent")} AS dist
         |  FROM queries, kc2 c),
         |pcells AS (
         |  SELECT query_id, q, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS prb
         |    FROM probed)
         |  WHERE prb <= $KmeansProbes),
         |cand AS (
         |  SELECT p.query_id, p.q AS qa, a.vec_id AS cand_id, a.cell
         |  FROM pcells p JOIN ka3 a ON a.cell = p.cell
         |  WHERE a.vec_id <> p.query_id),
         |${pqCtes.mkString(",\n")},
         |parts AS (
         |  $partsUnion),
         |total AS (
         |  SELECT query_id, cand_id, cell, CAST(SUM(d) AS BIGINT) AS approx_dist
         |  FROM parts GROUP BY 1, 2, 3)
         |SELECT query_id, cell, cand_id, approx_dist, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_dist, cand_id) AS rnk
         |      FROM total)
         |WHERE rnk <= 10""".stripMargin) { (spark, dir) =>
      // fan the narrow (id, vec) rows out before the encode pass: every row
      // pays M x K x sub integer distance loops against literal centroids,
      // all inherited from the single-row-group scan's one-task layout
      // (guide §2.4/§8 — the shuffled bytes are the 2-column projection)
      val base = graft.core.Par.fanOut(
        quantized(spark, dir).filter(col("norm2") > 0).select("vec_id", "q"))
      locally {
        val coarseCents = ivfPqCoarsePinned(spark, dir)
        val centsPerSub = pqCodebooksPinned(spark, dir)
        if (coarseCents.isEmpty || centsPerSub.exists(_.isEmpty)) {
          base.select(
            col("vec_id").as("query_id"), col("vec_id").as("cell"),
            col("vec_id").as("cand_id"), lit(0L).as("approx_dist"),
            lit(0).as("rnk")).limit(0)
        } else {
          // index build: ONE scan emits coarse cell + M fine codes per vector
          def subDist(vec: org.apache.spark.sql.Column, cent: Array[Long]) =
            aggregate(
              zip_with(vec, typedLit(cent.toSeq), (x, y) => (x - y) * (x - y)),
              lit(0L), (acc, v) => acc + v)
          val codeCols = (0 until PqM).map { m =>
            val dists = centsPerSub(m).map { case (cell, c) =>
              struct(
                subDist(expr(s"slice(q, ${m * PqSub + 1}, $PqSub)"), c).as("dist"),
                lit(cell).as("cell"))
            }
            array_min(array(dists: _*)).getField("cell").as(s"c$m")
          }
          val indexed = base.select(
            col("vec_id") +: assignExpr(coarseCents).as("cell") +: codeCols: _*)
          // probe: KmeansProbes nearest coarse centroids, exact integer dist
          val distStructs = coarseCents.map { case (cell, c) =>
            struct(subDist(col("qa"), c).as("dist"), lit(cell).as("cell"))
          }
          val queries = base.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("q").as("qa"))
            .withColumn("cell",
              explode(slice(sort_array(array(distStructs: _*)), 1, KmeansProbes).getField("cell")))
          val centMaps = (0 until PqM).map(m =>
            typedLit(centsPerSub(m).map { case (cell, c) => cell -> c.toSeq }.toMap))
          val adcDist = (0 until PqM).map { m =>
            aggregate(
              zip_with(
                expr(s"slice(qa, ${m * PqSub + 1}, $PqSub)"),
                element_at(centMaps(m), col(s"c$m")),
                (x, y) => (x - y) * (x - y)),
              lit(0L), (acc, v) => acc + v)
          }.reduce(_ + _)
          val w = Window.partitionBy(col("query_id"))
            .orderBy(col("approx_dist"), col("vec_id"))
          indexed.join(broadcast(queries), Seq("cell"))
            .filter(col("vec_id") =!= col("query_id"))
            .withColumn("approx_dist", adcDist)
            .withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 10)
            .select(
              col("query_id"), col("cell"), col("vec_id").as("cand_id"),
              col("approx_dist"), col("rnk").cast("int").as("rnk"))
        }
      }
    }
  }

  /** Model-apply AT INGEST: embeddings arrive as a stream and are encoded
    * to their PQ codes row-locally against the session's pinned codebooks
    * (trained offline on the batch corpus — the standard train-offline /
    * apply-in-flight split). The encode is a STATELESS streaming map: M
    * argmins over literal centroids per row, no state store, no shuffle —
    * the shape that keeps a vector index current under continuous ingest
    * at any rate (each micro-batch costs one linear pass). Run over the
    * same corpus it must emit exactly the batch encoder's code table,
    * which the oracle replays from the raw embeddings (training included).
    */
  val streamingPqEncode: QueryDef = {
    import KmeansSql.{assign, seeds, update}
    val trainCtes = (0 until PqM).map { m =>
      val off = m * PqSub + 1
      s"""s$m AS (SELECT vec_id, list_slice(q, $off, ${off + PqSub - 1}) AS q FROM nz),
         |${seeds(s"s$m", PqK, s"c${m}0")},
         |${assign(s"s$m", s"c${m}0", s"a${m}1")},
         |${update(s"a${m}1", s"c${m}1")},
         |${assign(s"s$m", s"c${m}1", s"a${m}2")},
         |${update(s"a${m}2", s"c${m}2")},
         |${assign(s"s$m", s"c${m}2", s"code$m", Seq("vec_id"))}""".stripMargin
    }
    QueryDef(
      "streaming_pq_encode",
      s"""WITH q0 AS (
         |  SELECT vec_id, $qvecSql AS q,
         |         ${dotSql(qvecSql, qvecSql)} AS norm2
         |  FROM embeddings),
         |nz AS (SELECT vec_id, q FROM q0 WHERE norm2 > 0),
         |dims AS (SELECT unnest(range(1, ${PqSub + 1})) AS p),
         |${trainCtes.mkString(",\n")}
         |SELECT nz.vec_id,
         |  code0.cell AS c0, code1.cell AS c1, code2.cell AS c2, code3.cell AS c3
         |FROM nz
         |JOIN code0 ON code0.vec_id = nz.vec_id
         |JOIN code1 ON code1.vec_id = nz.vec_id
         |JOIN code2 ON code2.vec_id = nz.vec_id
         |JOIN code3 ON code3.vec_id = nz.vec_id""".stripMargin) { (spark, dir) =>
      // model trained (or fetched) on the BATCH session's pinned registry
      val centsPerSub = pqCodebooksPinned(spark, dir)
      // same degenerate-corpus guard as ann_pq_adc / ann_ivf_pq: with no
      // nonzero vectors every subspace codebook is empty and array() of
      // zero struct columns would fail analysis — return the empty frame
      if (centsPerSub.exists(_.isEmpty)) {
        quantized(spark, dir).select(
          col("vec_id"), lit(0L).as("c0"), lit(0L).as("c1"),
          lit(0L).as("c2"), lit(0L).as("c3")).limit(0)
      } else {
      val sess = spark.newSession()
      sess.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = graft.streaming.Streams.readTableStream(sess, dir, "embeddings")
      def subDist(vec: org.apache.spark.sql.Column, cent: Array[Long]) =
        aggregate(
          zip_with(vec, typedLit(cent.toSeq), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v)
      val codeCols = (0 until PqM).map { m =>
        val dists = centsPerSub(m).map { case (cell, c) =>
          struct(
            subDist(expr(s"slice(q, ${m * PqSub + 1}, $PqSub)"), c).as("dist"),
            lit(cell).as("cell"))
        }
        array_min(array(dists: _*)).getField("cell").as(s"c$m")
      }
      val codes = stream
        .selectExpr("vec_id", s"$qvec AS q")
        .withColumn("norm2", VectorFunctions.longDot(col("q"), col("q")))
        .filter(col("norm2") > 0)
        .select(col("vec_id") +: codeCols: _*)
      val table = s"graft_streaming_pq_${System.nanoTime()}"
      graft.streaming.Streams.runAvailableNowToMemory(
        sess, codes, table, org.apache.spark.sql.streaming.OutputMode.Append())
      }
    }
  }

  val all: Seq[QueryDef] =
    Seq(knnBrute, cosineConsecutive, annIvfProbe, annIvfKmeans, annPqAdc,
      annPqTrainSample, annIvfPq, streamingPqEncode, embeddingLshNearDup,
      semanticDedup, semanticDedupPrune, embeddingQuantizeInt8,
      embeddingGramMatrix, labelCentroidCosine)
}
