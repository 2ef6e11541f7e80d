package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Packing}

/** Connected components (large-star/small-star) and greedy sequence
  * packing, each pinned against a driver-side naive model. */
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

  /** Driver-side greedy fold — the definitional model. */
  private def greedyModel(rows: Seq[(Long, Long)], budget: Long,
      buckets: Int): Map[Long, (Long, Long, Long)] =
    rows.groupBy(_._1 % buckets).flatMap { case (bucket, rs) =>
      var bin = -1L; var fill = 0L
      rs.sortBy(_._1).map { case (id, tokens) =>
        if (bin < 0 || fill + tokens > budget) { bin += 1; fill = tokens }
        else fill += tokens
        id -> ((bucket, bin, fill))
      }
    }

  test("packGreedy == driver greedy fold, including oversize and empty docs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // token sizes cross the 512 budget in every way: zeros, tiny, large,
    // oversize (> budget alone), and exact-fit boundary values
    val rows: Seq[(Long, Long)] = (0L until 400L).map { id =>
      id -> (rng.nextInt(6) match {
        case 0 => 0L
        case 1 => rng.nextInt(20).toLong
        case 2 => 512L
        case 3 => 600L + rng.nextInt(400)
        case 4 => 256L
        case _ => rng.nextInt(512).toLong
      })
    }
    val got = Packing.packGreedy(rows.toDF("doc_id", "n_tokens"),
      "doc_id", "n_tokens", budget = 512, buckets = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === greedyModel(rows, 512, 8))
    // no bin below an oversize doc ever exceeds the budget
    val over = got.values.filter(_._3 > 512)
    assert(over.nonEmpty) // oversize docs exist and sit alone
  }

  test("distributed star loop + packer at scale: closed-form correctness, " +
      "bounded rounds and wall") {
    import org.apache.spark.sql.functions.expr
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

    // 2M docs, constant 100 tokens, 64 buckets: rank = id div 64,
    // bin = rank div 5, fill = (rank % 5 + 1) * 100
    val np = 2000000L
    val t1 = System.nanoTime()
    val packed = Packing.packGreedy(
      spark.range(np).select(col("id").as("doc_id"),
        lit(100L).as("n_tokens")),
      "doc_id", "n_tokens", budget = 512, buckets = 64)
    val pBad = packed.filter(
      col("bin") =!= expr("(doc_id div 64) div 5") ||
      col("fill") =!= (expr("(doc_id div 64) % 5") + 1) * 100).count()
    val pSecs = (System.nanoTime() - t1) / 1e9
    assert(pBad === 0L, s"$pBad/$np rows disagree with the closed form")
    info(f"packGreedy: $pSecs%.1f s at 2M rows (bound $wallBound%.0f s)")
    assert(pSecs <= wallBound,
      f"packGreedy took $pSecs%.1f s at 2M rows (bound $wallBound%.0f s)")
  }

  test("packGreedy on the documents fixture fills bins near budget") {
    val docs = Tables(spark, SfDir, "documents")
      .withColumn("n_tokens",
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")))
    val packed = Packing.packGreedy(docs, "doc_id", "n_tokens", 512, 8).cache()
    assert(packed.count() === docs.count())
    // bins are dense 0..max per bucket
    val binStats = packed.groupBy("bucket")
      .agg(max(col("bin")).as("mx"), countDistinct(col("bin")).as("nb"))
    assert(binStats.filter(col("nb") =!= col("mx") + 1).count() === 0L)
  }
}
