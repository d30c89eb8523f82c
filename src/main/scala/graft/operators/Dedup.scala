package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeomFunctions._
import graft.functions.TextKernels

/** Deduplication operators for training-data pipelines.
  *
  * Near-dup: MinHash + LSH banding — signature per doc (map-only),
  * explode to (band, band_hash) keys, groupBy band bucket, emit candidate
  * pairs inside buckets, verify with word-shingle Jaccard. At scale the
  * only shuffles are the band groupBy and the pair dedup; signature width
  * and band count tune recall/precision. (Exact dedup is one md5 groupBy,
  * run inline by q13.)
  *
  * No operator persists. A frame read twice (both sides of a self-join,
  * or two join-backs) sits behind ONE exchange whose two copies are
  * identical, so AQE runs it once and the second reader gets a
  * ReusedExchange: the kernel and the text scan run once per action and
  * nothing outlives it. Key that exchange on the join key, or reuse one
  * the plan already has: on q39 an extra repartition on the bucket key
  * was coalesced by AQE and starved the cosine verify of tasks.
  */
object Dedup {

  /** rolling band hash of signature positions [b·rpb, (b+1)·rpb),
    * recomputable from a carried signature.
    */
  private def bandHash(sig: org.apache.spark.sql.Column, b: Int, rowsPerBand: Int) =
    (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
      .reduce((acc, x) => (acc * 31 + x) % TextKernels.Prime)

  /** candidate near-dup pairs from shared LSH buckets, verified by
    * MinHash-estimated Jaccard ≥ threshold (fraction of matching
    * signature positions).
    *
    * ONE-PASS (round-2 review): the signature rides through the band
    * explode, so the estimated Jaccard is computed map-side on the joined
    * row — no post-hoc signature re-joins. A pair sharing several bands is
    * emitted only from its FIRST shared band (both signatures are in hand,
    * so "does any earlier band also collide?" is a map-side predicate) —
    * no `distinct()`. Plan: map (sig) → map (explode) → one shuffle on
    * (band, bhash) → map-side verify. Three shuffles fewer than round 2.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   bands: Int = 4, rowsPerBand: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    val numPerms = bands * rowsPerBand
    // the self-join below reads `banded` on both sides: keyed on the join
    // key, both sides' exchanges are one, which AQE runs once and reuses
    val banded = docs
      .select(col(idCol).as("doc"), minhash(col(textCol), lit(numPerms)).as("sig"))
      .select(col("doc"), col("sig"),
        posexplode(array((0 until bands).map(b => bandHash(col("sig"), b, rowsPerBand)): _*))
          .as(Seq("band", "bhash")))
      .repartition(col("band"), col("bhash"))
    val firstSharedBand = (0 until bands).map { bp =>
      when(col("a.band") > bp,
        bandHash(col("a.sig"), bp, rowsPerBand) =!= bandHash(col("b.sig"), bp, rowsPerBand))
        .otherwise(lit(true))
    }.reduce(_ && _)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.doc") < col("b.doc"))
      .filter(firstSharedBand)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        (aggregate(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numPerms).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Exact n-gram (word 3-shingle) Jaccard near-dup: the classic
    * two-stage shape — LSH banding for RECALL (any shared band emits a
    * candidate, threshold 0 on the estimate), then exact set Jaccard for
    * PRECISION. The shingle sets are joined back per candidate rather
    * than carried through the band explode: shipping each doc's full
    * shingle array through `bands` replicas would shuffle ~bands× the
    * corpus text, while the join-back shuffles the compact (doc,
    * shingles) frame once against a candidate set that is tiny by
    * construction. array_intersect/array_union give exact set semantics
    * (duplicates deduped).
    */
  def nearDupPairsExact(docs: DataFrame, idCol: String, textCol: String,
                        bands: Int = 4, rowsPerBand: Int = 4,
                        threshold: Double = 0.5): DataFrame = {
    val cands = nearDupPairs(docs, idCol, textCol, bands, rowsPerBand, threshold = 0.0)
      .select(col("doc_a"), col("doc_b"))
    // joined back once per pair side: behind one exchange on the doc key,
    // the second join-back reuses the first one's
    val sh = docs.select(col(idCol).as("doc"), shingle_hashes(col(textCol)).as("sh"))
      .repartition(col("doc"))
    cands
      .join(sh.select(col("doc").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(sh.select(col("doc").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** embedding-cosine near-dup pairs: corpus hashed once into sign-random-
    * projection LSH buckets (one shuffle on the bucket id), candidate pairs
    * drawn only INSIDE a bucket (never all-pairs), then verified by exact
    * cosine ≥ tau. Near-identical vectors agree on almost every sign
    * projection, so recall at tau≈0.99 is ~1; candidate volume is quadratic
    * only within a bucket — the same 100 TB shape as the MinHash bands.
    * corpus(vid, vec array<double>).
    */
  def embedNearDupPairs(corpus: DataFrame, dim: Int, bits: Int = 8,
                        tau: Double = 0.99): DataFrame = {
    // self-joined: the bucket rides through the spread's exchange, so it
    // is computed once and both sides reuse that exchange
    val b = Spread.forKernels(corpus.withColumn("bucket", Ann.lshBucket(col("vec"), dim, bits)))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("vid_a"), col("b.vid").as("vid_b"),
        Ann.cosine(col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Connected components over an undirected pair frame — the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): O(log² n) rounds
    * worst-case (log n on typical graphs), each round a min-aggregate
    * plus a key join — never a per-node collect_set, so a single
    * high-degree hub (a boilerplate string duplicated millions of times)
    * stays an aggregate, not an executor-memory spike.
    *
    * Input: (a, b) pairs, any orientation, self-loops/dups tolerated.
    * Output: (node, rep) with rep = min node id of the component, one row
    * per node that appears in a pair (callers left-join for singletons).
    *
    * Scale notes: the edge frame is the candidate-PAIR set — orders of
    * magnitude smaller than the corpus — and shrinks toward one star per
    * component as rounds proceed. Each round localCheckpoints eagerly:
    * iterative self-joins otherwise stack an exponentially deep lineage
    * that re-executes from round 0 on any retry (on a real cluster use
    * reliable `checkpoint` over a DFS dir for executor-loss safety).
    * Convergence is detected by a fixed edge set, checked with a count
    * on the changed-rows anti-join (driver sees one scalar per round).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxRounds: Int = 50): DataFrame = {
    // canonical (a > b) orientation; drop self loops
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("a"), least(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)

    def minOverNbr(sym: DataFrame): DataFrame =
      sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))

    var round = 0
    var done = false
    var prevCount = -1L
    while (!done && round < maxRounds) {
      // large-star: symmetrize; connect every strictly-larger neighbor of
      // u to m = min(Γ(u) ∪ {u})
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val ls = sym.join(minOverNbr(sym), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star: edges already point large→small (a > b); connect every
      // small-side neighbor of u, and u itself, to m = min(Γ(u) ∪ {u})
      val dir = ls.select(col("a").as("u"), col("b").as("v"))
      val mins = minOverNbr(dir)
      val ss = dir.join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      // both sides are distinct sets, so |new| = |old| plus new\old = ∅
      // proves equality — one anti-join per round, not two
      val count = ss.count()
      done = count == prevCount && ss.exceptAll(edges).limit(1).count() == 0
      prevCount = count
      edges = ss
      round += 1
    }
    // fixpoint is a star forest: every edge is (node, componentMin); add
    // the roots themselves so the map is total over nodes seen in pairs
    edges.select(col("a").as("node"), col("b").as("rep"))
      .union(edges.select(col("b"), col("b")).distinct())
  }

  /** Near-dup CLUSTERING — pairs are evidence, clusters are the dedup
    * deliverable: group transitively-linked docs, elect the min doc id as
    * the canonical keeper, and tag every doc with (rep, csize, keeper).
    * Singletons (no near-dup) are their own rep with csize 1, so the
    * output is a total map over the corpus — `filter(keeper)` IS the
    * deduplicated dataset.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      bands: Int = 4, rowsPerBand: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    val pairs = nearDupPairs(docs, idCol, textCol, bands, rowsPerBand, threshold)
    val cc = connectedComponents(pairs)
    docs.select(col(idCol).as("doc"))
      .join(cc.withColumnRenamed("node", "doc"), Seq("doc"), "left")
      .select(col("doc"), coalesce(col("rep"), col("doc")).as("rep"))
      .withColumn("csize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("rep"))))
      .withColumn("keeper", col("doc") === col("rep"))
  }
}
