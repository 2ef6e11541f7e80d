package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Connected components (large-star/small-star), pinned against a
  * driver-side union-find model. */
class PackCcSpec extends SparkSpec {

  /** Driver-side union-find — the definitional model. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)], smallGraphEdges: Long = 100000L)
      : Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(edges.toDF("src", "dst"),
      smallGraphEdges = smallGraphEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connectedComponents == union-find on a composite adversarial graph " +
      "on BOTH the distributed star loop and the small-graph fast path") {
    // one Spark run over many disjoint shapes: random graphs (three
    // seeds/densities), a long path (worst case for plain label
    // propagation), a star, a triangle with a pendant, parallel +
    // reversed + self edges
    val rng = new scala.util.Random(42)
    val random = (0 until 3).flatMap { g =>
      val off = 1000L * g
      val n = 30 + 20 * g
      Seq.fill(20 + 25 * g)((off + rng.nextInt(n), off + rng.nextInt(n)))
        .map { case (a, b) => (a: Long, b: Long) }
    }
    val path = (0L until 120L).sliding(2).map(s => (5000L + s(0), 5000L + s(1))).toSeq
    val star = (1L to 40L).map(i => (7000L, 7000L + i))
    val oddities = Seq((9000L, 9001L), (9001L, 9000L), (9002L, 9002L),
      (9003L, 9004L), (9004L, 9005L), (9005L, 9003L), (9005L, 9006L))
    val edges = random ++ path ++ star ++ oddities
    val want = ufComponents(edges.filter(e => e._1 != e._2))
    val gotDistributed = ccOf(edges, smallGraphEdges = 0L) // force star loop
    val gotDriver = ccOf(edges) // default threshold takes the fast path
    assert(gotDistributed === want)
    assert(gotDriver === want)
    // the path really did collapse to its minimum
    assert(gotDistributed(5119L) === 5000L)
  }

  test("connectedComponents handles empty and single-edge inputs") {
    import spark.implicits._
    for (t <- Seq(0L, 100000L)) {
      assert(Dedup.connectedComponents(
        Seq.empty[(Long, Long)].toDF("src", "dst"),
        smallGraphEdges = t).count() === 0L)
      assert(ccOf(Seq((7L, 3L)), t) === Map(7L -> 3L, 3L -> 3L))
      // self-loop only: node dropped with its loop, rest unaffected
      assert(ccOf(Seq((5L, 5L), (1L, 2L)), t) === Map(1L -> 1L, 2L -> 1L))
    }
  }

  test("nearDupComponents labels every doc and respects candidate pairs") {
    val docs = Tables(spark, SfDir, "documents").cache()
    val n = docs.count()
    val comp = Dedup.nearDupComponents(docs).cache()
    assert(comp.count() === n)
    // representatives are component minima
    assert(comp.filter(col("component") > col("doc_id")).count() === 0L)
    // every candidate pair ended up in one component
    val pairs = Dedup.minhashCandidates(docs)
    val ca = comp.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("component", "comp_a")
    val cb = comp.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("component", "comp_b")
    assert(pairs.join(ca, "doc_a").join(cb, "doc_b")
      .filter(col("comp_a") =!= col("comp_b")).count() === 0L)
    // and the generator plants near-dups, so clustering is not vacuous
    assert(comp.filter(col("component") =!= col("doc_id")).count() > 0L)
  }

  test("distributed star loop + packer at scale: closed-form correctness, " +
      "bounded rounds and wall") {
    // 200k nodes in diameter-96 chain blocks — the shape that defeats
    // plain label propagation (O(diameter) rounds) but not the star
    // loop (O(log²)); component(id) = id - id % 97 in closed form, so
    // this runs on every `sbt test` with no generated fixtures. The
    // wall bound is load-sensitive, so overridable like
    // ScaleRegistrySpec's (ADVICE r5).
    val wallBound: Double =
      sys.env.get("GRAFT_SCALE_WALL_SECS").map(_.toDouble).getOrElse(60.0)
    val n = 200000L
    val k = 97L
    val chain = spark.range(n).filter(col("id") % k =!= 0)
      .select(col("id").as("src"), (col("id") - 1).as("dst"))
    val t0 = System.nanoTime()
    val cc = Dedup.connectedComponents(chain, smallGraphEdges = 0L)
    val bad = cc.filter(col("component") =!= col("id") - (col("id") % k)).count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(bad === 0L, s"$bad/$n nodes disagree with the closed form")
    assert(cc.count() === n)
    info(f"distributed CC: $secs%.1f s at 200k nodes (bound $wallBound%.0f s)")
    assert(secs <= wallBound,
      f"distributed CC took $secs%.1f s at 200k nodes (bound $wallBound%.0f s)")
  }
}
