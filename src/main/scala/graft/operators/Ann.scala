package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with a broadcast query set — exact,
  * linear in corpus size, the right plan when |queries| is small.
  * Scale path: LSH with deterministic pseudo-random hyperplanes — corpus
  * hashed once into 2^bits buckets, queries probe their own bucket (plus
  * optional multi-probe neighbors); recall traded for a bucket-local scan.
  * The inverted-file path with centroids learned from the corpus lives in
  * `IvfLearned`.
  *
  * Dot products run through `zip_with` + `aggregate` (codegen'd higher-
  * order functions, left-fold order — reproducible bit-for-bit).
  */
object Ann {

  /** left-fold Σ a[i]·b[i] in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Exact brute-force cosine top-k: queries broadcast, corpus scanned once.
    * queries(qid, qvec array<double>), corpus(vid, vec array<double>).
    * Norms are precomputed per side (each sqrt(Σx²) is bit-identical to an
    * inline computation, so the DuckDB oracle is unaffected) — one fold per
    * pair instead of three.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid").asc)
    val qn = queries.withColumn("qnorm", sqrt(norm2(col("qvec"))))
    val cn = corpus.withColumn("vnorm", sqrt(norm2(col("vec"))))
    cn.join(broadcast(qn), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        (dot(col("qvec"), col("vec")) / (col("qnorm") * col("vnorm"))).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim i):
    * a value in [-1, 1) from a splitmix-style integer hash — reproducible
    * across engines and runs with no RNG state.
    */
  def planeComponent(p: Int, i: Int): Double = {
    var x = p.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    x ^= (x >>> 30); x *= 0xBF58476D1CE4E5B9L
    x ^= (x >>> 27); x *= 0x94D049BB133111EBL
    x ^= (x >>> 31)
    (x >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** sign-random-projection bucket id for a vector (array<double>), using
    * `bits` hyperplanes over `dim` dimensions.
    */
  def lshBucket(vec: Column, dim: Int, bits: Int): Column = {
    (0 until bits).map { p =>
      val plane = array((0 until dim).map(i => lit(planeComponent(p, i))): _*)
      when(dot(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** LSH-bucketed ANN: corpus bucketed once (one shuffle on bucket id);
    * each query scans only its probed buckets. With `multiProbe` the query
    * side also probes every Hamming-distance-1 neighbor bucket (bits extra
    * probes) — the standard multi-probe recall lift, at query-replication
    * (not corpus-replication) cost. Returns top-k per query by cosine
    * within the probed buckets (approximate: recall < 1).
    *
    * No broadcast hint: the bucket equi-join shuffles both sides by bucket
    * id, which is correct for arbitrarily large query sets; AQE converts
    * to a broadcast join on its own when the query side is small.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int, bits: Int,
              multiProbe: Boolean = false): DataFrame = {
    val qb0 = queries.withColumn("bucket0", lshBucket(col("qvec"), dim, bits))
    val qb =
      if (multiProbe) {
        qb0.select(col("qid"), col("qvec"),
          explode(array(col("bucket0") +:
            (0 until bits).map(p => col("bucket0").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
      } else {
        qb0.withColumnRenamed("bucket0", "bucket")
      }
    val cb = corpus.withColumn("bucket", lshBucket(col("vec"), dim, bits))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid").asc)
    cb.join(qb, Seq("bucket"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), cosine(col("qvec"), col("vec")).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  // ---- DuckDB oracle SQL generators (mirror the expressions above) ----

  /** exact-decimal literal list for plane `p` over `dim` dims — every
    * binary64 has a finite decimal expansion, so the oracle parses back
    * the identical double. */
  def planeSqlLiteral(p: Int, dim: Int): String =
    "[" + (0 until dim).map(i =>
      new java.math.BigDecimal(planeComponent(p, i)).toPlainString).mkString(", ") + "]"

  /** left-fold dot of list expr `v` with plane `p` (mirrors `dot`). */
  def planeDotSql(v: String, p: Int, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, ${dim + 1}), " +
      s"i -> ($v)[CAST(i AS INTEGER)] * (${planeSqlLiteral(p, dim)})[CAST(i AS INTEGER)])), " +
      "(acc, x) -> acc + x)"

  /** sign-random-projection bucket id (mirrors `lshBucket`). */
  def bucketSql(v: String, dim: Int, bits: Int): String =
    "CAST(" + (0 until bits).map(p =>
      s"(CASE WHEN ${planeDotSql(v, p, dim)} >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)"

  /** Symmetric per-vector int8 quantization — 4× smaller embedding
    * storage for the 100 TB corpus (the ANN candidate set dequantizes to
    * within 1/254 of max-norm per component; exact re-ranking reads the
    * float originals for the ≤k finalists only). Map-only, one pass:
    * `mx = max|xᵢ|`, `qvᵢ = round(xᵢ·127/mx)` ∈ [−127, 127]; dequantize
    * as `qv·mx/127`. The multiply-BEFORE-divide order and round-half-
    * away-from-zero are pinned so the bytes reproduce bit-for-bit in any
    * IEEE-754 engine. Output long form (id, idx, qv, mx): a schema any
    * columnar sink stores as two int8/float columns.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .select(col(idCol), col("mx"), posexplode(col("v")).as(Seq("idx", "x")))
      .withColumn("qv", when(col("mx") === 0.0, lit(0))
        .otherwise(round(col("x") * 127.0 / col("mx")).cast("int")))
      .select(col(idCol), col("idx"), col("qv"), col("mx"))
}
