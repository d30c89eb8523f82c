package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF ANN with a LEARNED coarse quantizer: constant (hash-derived)
  * centroids would keep probed volume a fixed fraction of the corpus; a
  * real 100 TB pipeline needs sampled k-means centroids with
  * nCentroids ~ √N so per-query probed volume SHRINKS with corpus size.
  *
  * Design constraints that shape everything here:
  *  - DETERMINISM ACROSS ENGINES: the DuckDB oracle must reproduce the
  *    fit bit-for-bit, so every floating-point reduction has a DEFINED
  *    order (left fold, ascending index / ascending vid), the sample is
  *    selected by a total order both engines compute identically (an
  *    overflow-free Knuth multiplicative hash of vid), and k-means runs a
  *    FIXED iteration count with first-max tie-breaks. `fitSql` emits the
  *    same algorithm as unrolled SQL CTEs.
  *  - BOUNDED DRIVER WORK: the fit collects only the hash-ordered sample
  *    (≤ max(1024, 8·k) rows — the same bounded-driver-sample pattern as
  *    PlanStats.estimatedRows' footer-sample cap); k-means runs on the
  *    driver over that sample. Fit scans the corpus at most twice (count
  *    unless footers give it + sample top-k), a one-time model-build cost
  *    amortized over every query.
  *  - SCALE SHAPE: corpus assignment is one map-side projection (a single
  *    array<array<double>> literal of centroids broadcast inside the
  *    expression — no join, no shuffle); the query probes its top-nProbe
  *    lists, so probed fraction = nProbe / √N → 0 as N grows.
  */
object IvfLearned {

  final case class IvfModel(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** √N centroid count, clamped. `maxCentroids` exists for the oracle
    * gate (DuckDB evaluates the per-row centroid dots in interpreted list
    * lambdas; 64 keeps the gate fast) — the engine default is 1024.
    */
  def nCentroidsFor(n: Long, maxCentroids: Int): Int =
    math.min(maxCentroids.toLong, math.max(4L,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  def sampleCapFor(n: Long, kC: Int): Int =
    math.min(n, math.max(1024L, 8L * kC)).toInt

  /** overflow-free Knuth multiplicative sample key: fold vid below 2^31
    * first so the product stays under 2^63 in BOTH engines (DuckDB BIGINT
    * multiplication errors on overflow; Spark silently wraps — either way
    * the raw product would diverge).
    */
  def sampleKey(vid: Column): Column =
    (vid % 2147483647L) * 2654435761L % 4294967296L

  val SampleKeySql = "((vid % 2147483647) * 2654435761) % 4294967296"

  private def dotLF(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var ss = 0.0; var i = 0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val n = math.sqrt(ss)
    v.map(_ / n)
  }

  /** Fit: deterministic hash-ordered sample (TakeOrdered — no shuffle,
    * full sort avoided) + fixed-iteration spherical k-means on the driver.
    * Assignment = argmax dot against unit-norm centroids (first max on
    * ties); recompute = component mean over members in ascending-vid
    * order, then L2-normalize; empty cluster keeps its previous centroid.
    * corpus(vid long, vec array<double>).
    */
  def fit(corpus: DataFrame, dim: Int, iters: Int = 5,
          maxCentroids: Int = 1024): IvfModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // N decides kC = ⌈√N⌉ and the sample cap; parquet footer metadata
    // gives it exactly with zero Spark jobs (count() only off-parquet) —
    // the fit now scans the corpus ONCE (the sample top-k), not twice
    val n = graft.sources.PlanStats.exact(corpus).map(_.rows).getOrElse(corpus.count())
    val kC = nCentroidsFor(n, maxCentroids)
    val sCap = sampleCapFor(n, kC)
    val sampRows: Array[(Long, Array[Double])] = corpus
      .select(col("vid"), col("vec"))
      .withColumn("skey", sampleKey(col("vid")))
      .orderBy(col("skey").asc, col("vid").asc)
      .limit(sCap)
      .select(col("vid"), col("vec"))
      .as[(Long, Seq[Double])].collect()
      .map { case (vid, v) => (vid, v.toArray) }
    val m = sampRows.length
    require(m > 0, "IVF fit on an empty corpus")
    val bySkey = sampRows.map(_._2) // collect preserves the TakeOrdered order
    val byVid = sampRows.sortBy(_._1)
    var cents = Array.tabulate(kC)(j => normalize(bySkey((j.toLong * m / kC).toInt).clone()))
    var it = 0
    while (it < iters) {
      val assign = byVid.map { case (_, v) =>
        var best = 0; var bs = dotLF(v, cents(0)); var j = 1
        while (j < kC) {
          val s = dotLF(v, cents(j))
          if (s > bs) { bs = s; best = j } // strict: first max wins ties
          j += 1
        }
        best
      }
      cents = Array.tabulate(kC) { j =>
        val members = byVid.indices.filter(assign(_) == j) // ascending vid
        if (members.isEmpty) cents(j)
        else {
          val mean = new Array[Double](dim)
          var i = 0
          while (i < dim) {
            var acc = 0.0
            members.foreach(mi => acc += byVid(mi)._2(i))
            mean(i) = acc / members.length
            i += 1
          }
          normalize(mean)
        }
      }
      it += 1
    }
    IvfModel(cents)
  }

  /** per-row centroid scores: ONE array<array<double>> literal broadcast
    * inside the expression, folded with the same left-fold dot as `Ann.dot`
    * — map-side only, no join.
    */
  private def scoresOf(vec: Column, model: IvfModel): Column =
    transform(typedlit(model.centroids.map(_.toSeq).toSeq),
      c => Ann.dot(vec, c))

  /** first index attaining the max score (mirrors DuckDB list_position). */
  def assignCid(vec: Column, model: IvfModel): Column = {
    val ss = scoresOf(vec, model)
    (array_position(ss, array_max(ss)) - 1).cast("int")
  }

  /** IVF top-k with a fitted model: corpus assigned map-side to its
    * inverted list, queries probe their top-nProbe lists, exact cosine
    * rank within the probed lists. One corpus shuffle on the list id.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              model: IvfModel, nProbe: Int = 3): DataFrame = {
    val cb = corpus.withColumn("cid", assignCid(col("vec"), model))
    val wq = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid").asc)
    val qprobe = queries
      .select(col("qid"), col("qvec"),
        posexplode(scoresOf(col("qvec"), model)).as(Seq("cid", "score")))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= nProbe)
      .select(col("qid"), col("qvec"), col("cid").cast("int").as("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid").asc)
    cb.join(qprobe, Seq("cid"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), Ann.cosine(col("qvec"), col("vec")).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  // ---- DuckDB oracle SQL: the SAME fit + query, unrolled ----

  private def foldSum(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $listExpr), (acc, x) -> acc + x)"

  private def dotSql(a: String, b: String, dim: Int): String =
    foldSum(s"list_transform(range(1, ${dim + 1}), i -> " +
      s"($a)[CAST(i AS INTEGER)] * ($b)[CAST(i AS INTEGER)])")

  private def normSql(v: String): String =
    s"list_transform($v, nx -> nx / sqrt(" +
      foldSum(s"list_transform($v, ny -> ny * ny)") + "))"

  /** WITH-clause body (no leading WITH) reproducing fit + assignment over
    * CTE `e(vid, v)`; exposes `cl(cs)` = the centroid list ordered by j,
    * and `ca(vid, v, cid)` = the corpus assignment. The centroid count and
    * sample cap are derived from count(*) with the same clamps as `fit` —
    * the oracle needs no runtime data from the engine.
    */
  def fitSql(dim: Int, iters: Int, maxCentroids: Int): String = {
    val kcExpr = s"LEAST($maxCentroids, GREATEST(4, CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT)))"
    val b = new StringBuilder
    b.append(s"np AS (SELECT count(*) AS n FROM e), ")
    b.append(s"kp AS (SELECT $kcExpr AS kc, LEAST(n, GREATEST(1024, 8 * $kcExpr)) AS scap FROM np), ")
    b.append("samp AS (SELECT vid, v FROM (SELECT vid, v, row_number() OVER " +
      s"(ORDER BY $SampleKeySql ASC, vid ASC) AS rn FROM e) WHERE rn <= (SELECT scap FROM kp)), ")
    b.append("sidx AS (SELECT vid, v, row_number() OVER (ORDER BY " +
      s"$SampleKeySql ASC, vid ASC) AS rn FROM samp), ")
    b.append("sm AS (SELECT count(*) AS m FROM samp), ")
    b.append("c0 AS (SELECT j, " + normSql("s.v") + " AS cv FROM " +
      "(SELECT unnest(range((SELECT kc FROM kp))) AS j) js JOIN sidx s " +
      "ON s.rn - 1 = (j * (SELECT m FROM sm)) // (SELECT kc FROM kp)), ")
    for (t <- 1 to iters) {
      val p = s"c${t - 1}"
      b.append(s"a$t AS (SELECT vid, v, j FROM (SELECT s.vid AS vid, s.v AS v, c.j AS j, " +
        "row_number() OVER (PARTITION BY s.vid ORDER BY " + dotSql("s.v", "c.cv", dim) +
        s" DESC, c.j ASC) AS rk FROM samp s, $p c) WHERE rk = 1), ")
      b.append(s"g$t AS (SELECT j, count(*) AS cnt, list(v ORDER BY vid ASC) AS vs FROM a$t GROUP BY j), ")
      b.append(s"m$t AS (SELECT j, list_transform(range(1, ${dim + 1}), i -> " +
        foldSum("list_transform(vs, w -> w[CAST(i AS INTEGER)])") + s" / cnt) AS mv FROM g$t), ")
      b.append(s"c$t AS (SELECT p.j, COALESCE(" + normSql("m.mv") +
        s", p.cv) AS cv FROM $p p LEFT JOIN m$t m ON p.j = m.j), ")
    }
    b.append(s"cl AS (SELECT list(cv ORDER BY j ASC) AS cs FROM c$iters), ")
    b.append("ca AS (SELECT vid, v, CAST(list_position(ss, list_max(ss)) AS INTEGER) - 1 AS cid " +
      "FROM (SELECT vid, v, list_transform((SELECT cs FROM cl), cc -> " +
      dotSql("v", "cc", dim) + ") AS ss FROM e))")
    b.toString
  }

  /** full oracle query: probe + rank phase on top of fitSql. Mirrors
    * `ivfTopK` with queries = vid % `queryMod` == 0.
    */
  def oracleSql(dim: Int, iters: Int, maxCentroids: Int, k: Int, nProbe: Int,
                queryMod: Int): String = {
    "WITH e AS (SELECT vec_id AS vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
    fitSql(dim, iters, maxCentroids) + ", " +
    s"qf AS (SELECT vid AS qid, v AS qv FROM e WHERE vid % $queryMod = 0), " +
    "qs AS (SELECT qid, qv, list_transform((SELECT cs FROM cl), cc -> " +
      dotSql("qv", "cc", dim) + ") AS qss FROM qf), " +
    "qx AS (SELECT qid, qv, u.cid AS cid, u.score AS score FROM (SELECT qid, qv, " +
      "unnest(list_transform(range(1, len(qss) + 1), i -> " +
      "{'cid': CAST(i - 1 AS INTEGER), 'score': qss[CAST(i AS INTEGER)]})) AS u FROM qs)), " +
    "qp AS (SELECT qid, qv, cid FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY qid ORDER BY score DESC, cid ASC) AS crk FROM qx) WHERE crk <= $nProbe), " +
    "pr AS (SELECT qid, vid, " + dotSql("qv", "v", dim) + " AS dt, " +
      dotSql("qv", "qv", dim) + " AS nq, " + dotSql("v", "v", dim) + " AS nv " +
      "FROM qp JOIN ca USING (cid) WHERE qid <> vid) " +
    "SELECT qid, vid, dt / (sqrt(nq) * sqrt(nv)) AS cos, " +
    "CAST(row_number() OVER (PARTITION BY qid ORDER BY dt / (sqrt(nq) * sqrt(nv)) DESC, vid ASC) AS BIGINT) AS rk " +
    s"FROM pr QUALIFY rk <= $k"
  }
}
