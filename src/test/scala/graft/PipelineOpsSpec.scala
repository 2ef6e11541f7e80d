package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, SimHash, TextFunctions}
import graft.ops.{TextAnalysis, VectorSearch}

/** Training-data pipeline operators: LSH ANN recall, SimHash locality,
  * language ID. */
class PipelineOpsSpec extends SparkSpec {

  import spark.implicits._

  test("LSH ANN: high recall on clustered vectors") {
    GraftFunctions.register(spark)
    // 10 well-separated cluster centers, 30 members each (seeded)
    val rng = new scala.util.Random(1)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian() * 5))
    val vecs = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => x + rng.nextGaussian() * 0.3).toSeq)
    }
    val df = vecs.toDF("vec_id", "e").cache()
    val queries = df.filter(col("vec_id") < 10)
    val exact = VectorSearch.bruteForceCosine(df, queries, "vec_id", "e", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorSearch.annCosine(df, queries, "vec_id", "e",
      dim = 16, k = 10, bits = 8, tables = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low")
  }

  test("IVF ANN: high recall on clustered vectors with 3/16 cells probed") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(2)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian() * 5))
    val vecs = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => x + rng.nextGaussian() * 0.3).toSeq)
    }
    val df = vecs.toDF("vec_id", "e").cache()
    val queries = df.filter(col("vec_id") < 10)
    val exact = VectorSearch.bruteForceCosine(df, queries, "vec_id", "e", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorSearch.ivfCosine(df, queries, "vec_id", "e",
      k = 10, nCells = 16, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall too low")
  }

  test("PQ-ADC: codes bounded, adc_fp exactly recomputable, clustered top-k pure") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian() * 5))
    val vecs = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => x + rng.nextGaussian() * 0.3).toSeq)
    }
    val df = vecs.toDF("vec_id", "e").cache()
    val queries = df.filter(col("vec_id") < 10)
    val (dim, m, k) = (16, 4, 8)

    val books = VectorSearch.pqCodebooks(df, "vec_id", "e", dim, m, k)
    // Lloyd may empty cells: each book holds BETWEEN 1 and k codewords,
    // cid-keyed (gaps allowed)
    assert(books.length == m &&
      books.forall(b => b.nonEmpty && b.length <= k))
    val enc = VectorSearch.pqEncode(df, "e", dim, books)
    val codeRows = enc.select(col("vec_id"),
      array((0 until m).map(s => col(s"code_$s")): _*), col("recon_n2_fp"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1).toArray, r.getLong(2))).toMap
    val bookCids = books.map(_.map(_._1).toSet)
    assert(codeRows.values.forall(_._1.zipWithIndex.forall {
      case (c, sub) => bookCids(sub)(c)
    }), "code not a cid present in its subspace's book")

    val top = VectorSearch.pqTopK(df, queries, "vec_id", "e", dim, m, k)
      .collect()
    // every reported adc_fp must equal the driver-side recomputation from
    // the codebooks: sum over subspaces of micro(dot(q_sub, codeword))
    def microFp(x: Double): Long =
      java.math.BigDecimal.valueOf(x).movePointRight(6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val qVecs = vecs.take(10).map { case (id, e) => id -> e.toArray }.toMap
    top.foreach { r =>
      val (qid, nid, fp) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val codes = codeRows(nid)._1
      val expect = (0 until m).map { sub =>
        val qs = qVecs(qid).slice(sub * (dim / m), (sub + 1) * (dim / m))
        val c = books(sub).find(_._1 == codes(sub)).get._2
        microFp(qs.zip(c).map { case (a, b) => a * b }
          .foldLeft(0.0)(_ + _))
      }.sum
      assert(fp == expect, s"adc_fp mismatch for ($qid, $nid): $fp vs $expect")
    }
    // clustered corpus: every top-10 neighbor comes from the query's own
    // cluster (reconstruction collapses members near their codewords, so
    // exact rank order inside the cluster may shuffle — purity must not)
    top.foreach { r =>
      assert(r.getLong(1) % 10 == r.getLong(0) % 10,
        s"neighbor ${r.getLong(1)} not in query ${r.getLong(0)}'s cluster")
    }
    assert(top.count(_.getInt(4) == 1) == 10, "one rank-1 per query")
    // determinism: a second full run (training included) is bit-identical
    val again = VectorSearch.pqTopK(df, queries, "vec_id", "e", dim, m, k)
      .collect()
    assert(top.map(_.toString).sorted.sameElements(
      again.map(_.toString).sorted), "PQ run-to-run instability")
  }

  test("IVF+PQ: cell-pruned candidates score like PQ; no product in the plan") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(13)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian() * 5))
    val vecs = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => x + rng.nextGaussian() * 0.3).toSeq)
    }
    val df = vecs.toDF("vec_id", "e").cache()
    val queries = df.filter(col("vec_id") < 10)
    val res = VectorSearch.ivfPqTopK(df, queries, "vec_id", "e",
      dim = 16, nCells = 16, nprobe = 3, m = 4, k = 8)
    // pruned candidate gather must be an equi-join, never a product
    val plan = res.queryExecution.executedPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(nodes)
    assert(!nodes(plan).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "IVF+PQ must gather candidates by equi-join on cid")
    val rows = res.collect()
    // clustered corpus: probes find the home cell, ADC keeps purity
    rows.foreach { r =>
      assert(r.getLong(1) % 10 == r.getLong(0) % 10,
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s cluster")
    }
    assert(rows.count(_.getInt(4) == 1) == 10, "one rank-1 per query")
    // ADC arithmetic identical to the full-scan PQ operator: on the rows
    // both return, (neighbor, adc_fp) must agree exactly
    val pqAll = VectorSearch.pqTopK(df, queries, "vec_id", "e",
        dim = 16, m = 4, k = 8, topK = 300)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(pqAll((r.getLong(0), r.getLong(1))) === r.getLong(2),
        "IVF+PQ adc_fp must equal the full-scan PQ score")
    }
  }

  test("PQ ADC guards zero denominators: degenerate rows rank last, no NaN") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(23)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian()).toSeq))
    // query 99 is the all-zero vector: qnrm = 0 would divide by zero —
    // unguarded that is NaN, which a desc window ranks FIRST
    val df = (vecs :+ (99L, Seq.fill(8)(0.0))).toDF("vec_id", "e").cache()
    val queries = df.filter(col("vec_id") === 99L || col("vec_id") < 2)
    Seq(
      VectorSearch.pqTopK(df, queries, "vec_id", "e",
        dim = 8, m = 2, k = 4, topK = 5),
      VectorSearch.ivfPqTopK(df, queries, "vec_id", "e",
        dim = 8, nCells = 4, nprobe = 4, m = 2, k = 4, topK = 5)
    ).foreach { res =>
      val rows = res.collect()
      val zeroRows = rows.filter(_.getLong(0) == 99L)
      assert(zeroRows.nonEmpty, "zero query must still return ranked rows")
      zeroRows.foreach { r =>
        val c = r.getDouble(3)
        assert(!c.isNaN, "guard must demote NaN, not rank it")
        assert(c == Double.NegativeInfinity, s"degenerate cosine was $c")
      }
      // all scores tie at -Infinity → rank order must be neighbor_id
      val ordered = zeroRows.sortBy(_.getInt(4)).map(_.getLong(1))
      assert(ordered.sameElements(ordered.sorted),
        "degenerate ties must break by neighbor_id")
      // non-degenerate queries keep finite, unguard-identical cosines
      assert(rows.filter(_.getLong(0) < 2)
        .forall(r => java.lang.Double.isFinite(r.getDouble(3))),
        "guard must not touch non-degenerate rows")
    }
  }

  test("IVFADC residual encoding: recall >= raw on tight clusters; deterministic") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(17)
    // 80 tight clusters of 6 across 16 coarse cells: each query's top-10
    // spans SEVERAL clusters inside its probed cells, and k=4 codewords
    // per subspace cannot represent 80 cluster positions — raw PQ
    // confuses vectors across co-celled clusters, while the residual
    // score's exact dot(q, c) term separates cells and r̂ refines inside
    // them: the regime §V's refinement exists for
    val centers = Array.fill(80)(Array.fill(16)(rng.nextGaussian() * 8))
    val vecs = (0 until 480).map { i =>
      val c = centers(i % 80)
      (i.toLong, c.map(x => x + rng.nextGaussian() * 0.25).toSeq)
    }
    val df = vecs.toDF("vec_id", "e").cache()
    val queries = df.filter(col("vec_id") < 8)
    val truth = VectorSearch.bruteForceCosine(df, queries, "vec_id", "e",
        k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val by = rows.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      truth.map { case (q, t) =>
        (by.getOrElse(q, Set.empty[Long]) & t).size.toDouble / t.size
      }.sum / truth.size
    }
    val raw = VectorSearch.ivfPqTopK(df, queries, "vec_id", "e", dim = 16,
      nCells = 16, nprobe = 8, m = 4, k = 4, topK = 10).collect()
    val res = VectorSearch.ivfPqResTopK(df, queries, "vec_id", "e",
      dim = 16, nCells = 16, nprobe = 8, m = 4, k = 4, topK = 10).collect()
    val (rRaw, rRes) = (recall(raw), recall(res))
    info(f"recall@10: raw PQ $rRaw%.3f vs residual PQ $rRes%.3f")
    assert(rRes > rRaw,
      f"residual encoding must beat raw here ($rRes%.3f vs $rRaw%.3f)")
    assert(rRes >= 0.6, f"residual recall implausibly low: $rRes%.3f")
    // candidate gather stays an equi-join (no product), and a second full
    // run — both trainings included — is bit-identical
    val plan = VectorSearch.ivfPqResTopK(df, queries, "vec_id", "e",
      dim = 16, nCells = 16, nprobe = 8, m = 4, k = 4, topK = 10)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(nodes)
    assert(!nodes(plan.queryExecution.executedPlan).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "residual IVF+PQ must gather candidates by equi-join on cid")
    assert(res.map(_.toString).sorted.sameElements(
      plan.collect().map(_.toString).sorted),
      "residual IVFADC run-to-run instability")
  }

  test("clusterStats == manual aggregation over clusterAssign; pure clusters resolve") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian() * 5))
    val vecs = (0 until 240).map { i =>
      val c = centers(i % 8)
      (i.toLong, i % 8, c.map(x => x + rng.nextGaussian() * 0.2).toSeq)
    }
    val df = vecs.toDF("vec_id", "label", "e").cache()
    val got = VectorSearch.clusterStats(df, "vec_id", "e", "label", k = 8)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getDouble(5))).sortBy(_._1)
    // manual aggregation over the assignment the operator is built on
    val assigned = VectorSearch.clusterAssign(df, "vec_id", "e", k = 8)
      .select(col("cid"), col("label")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val want = assigned.groupBy(_._1).toSeq.map { case (cid, rows) =>
      val byLabel = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (topL, topC) = byLabel.toSeq.minBy { case (l, c) => (-c, l) }
      (cid, rows.size.toLong, byLabel.size.toLong, topL, topC,
        BigDecimal(topC.toDouble / rows.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got.toSeq === want, "clusterStats must equal manual aggregation")
    assert(got.map(_._2).sum === 240L, "every vector is assigned")
    // well-separated label-aligned clusters: the md5-seeded init can
    // merge true clusters into one cell (share 1/m), but non-merged
    // cells must come out near-pure
    assert(got.map(_._6).max >= 0.9,
      s"separated clusters should yield near-pure cells: ${got.map(_._6).toSeq}")
  }

  test("clusterStats handles STRING labels (type-agnostic argmax, ties to lowest)") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    val centers = Array.fill(4)(Array.fill(8)(rng.nextGaussian() * 5))
    // label names chosen so lexicographic ≠ insertion order; a planted
    // 50/50 cell (labels "web"/"cc" alternating) pins the tie-break
    val names = Array("web", "cc", "books", "wiki")
    val vecs = (0 until 160).map { i =>
      val c = centers(i % 4)
      val lbl = if (i % 4 == 0) (if (i % 8 == 0) "web" else "cc")
        else names(i % 4)
      (i.toLong, lbl, c.map(x => x + rng.nextGaussian() * 0.2).toSeq)
    }
    val df = vecs.toDF("vec_id", "label", "e").cache()
    val got = VectorSearch.clusterStats(df, "vec_id", "e", "label", k = 4)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).sortBy(_._1)
    val assigned = VectorSearch.clusterAssign(df, "vec_id", "e", k = 4)
      .select(col("cid"), col("label")).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val want = assigned.groupBy(_._1).toSeq.map { case (cid, rows) =>
      val byLabel = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (topL, topC) = byLabel.toSeq.minBy { case (l, c) => (-c, l) }
      (cid, rows.size.toLong, byLabel.size.toLong, topL, topC)
    }.sortBy(_._1)
    assert(got.toSeq === want,
      "string-labeled clusterStats must equal manual aggregation")
  }

  test("semDedup == naive within-cluster pair model; planted duplicates drop") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(11)
    val centers = Array.fill(3)(Array.fill(8)(rng.nextGaussian() * 5))
    val vecs = (0 until 120).map { i =>
      // every 10th vector is an EXACT copy of i-1 (a guaranteed semantic
      // duplicate in the same cell); the rest are noisy cluster members
      if (i % 10 == 9) (i.toLong, null: Seq[Double])
      else (i.toLong, centers(i % 3).map(x => x + rng.nextGaussian() * 0.2).toSeq)
    }
    val filled = vecs.zipWithIndex.map { case ((id, v), i) =>
      (id, if (v == null) vecs(i - 1)._2 else v)
    }
    val df = filled.toDF("vec_id", "e").cache()
    val got = VectorSearch.semDedup(df, "vec_id", "e",
        threshold = 0.999, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._1)
    // naive model over the SAME assignment the operator is built on
    val assigned = VectorSearch.clusterAssign(df, "vec_id", "e", k = 3)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.size) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = filled.map { case (i, v) =>
      val dup = filled.exists { case (j, w) =>
        j < i && assigned(j) == assigned(i) && cos(w, v) >= 0.999 }
      (i, assigned(i), if (dup) 0 else 1)
    }.sortBy(_._1)
    assert(got.toSeq === want, "semDedup must equal the naive pair model")
    // exact copies always drop; their originals' keep flag is the model's
    val copies = got.filter(_._1 % 10 == 9)
    assert(copies.forall(_._3 == 0),
      s"exact duplicates must be dropped: ${copies.toSeq}")
    assert(got.count(_._3 == 1) >= 3, "at least one rep per cluster kept")
  }

  test("DBSCAN == naive density model: cores, true border, structured noise") {
    GraftFunctions.register(spark)
    import spark.implicits._
    def at(deg: Double, plane: Int): Seq[Double] = {
      val r = math.toRadians(deg)
      val v = Array.fill(8)(0.0)
      v(plane * 2) = math.cos(r); v(plane * 2 + 1) = math.sin(r)
      v.toSeq
    }
    // threshold 0.8 (≈ 36.9°), minPts 4 (core ⇔ deg ≥ 3):
    //  - ids 1-6 at 0° and 7-8 at 30° (cos 0.866): one core cluster;
    //  - id 20 at 60°: within ε of ONLY 7-8 (cos 30° = 0.866; cos to the
    //    0° group is 0.5) → deg 2 → a genuine BORDER adopting cluster 1;
    //  - ids 30-34 identical in an orthogonal plane: second core cluster;
    //  - id 40 isolated (deg 0) and ids 50-51 a mutually-close pair with
    //    no core neighbor (deg 1 each) → ALL noise (the deg>0 noise case)
    val vecs: Seq[(Long, Seq[Double])] =
      (1L to 6L).map(i => i -> at(0, 0)) ++
        Seq(7L -> at(30, 0), 8L -> at(30, 0), 20L -> at(60, 0)) ++
        (30L to 34L).map(i => i -> at(0, 1)) ++
        Seq(40L -> at(0, 2), 50L -> at(0, 3), 51L -> at(10, 3))
    val df = vecs.toDF("vec_id", "e")
    val (threshold, minPts) = (0.8, 4)
    val got = VectorSearch.dbscanCosine(df, "vec_id", "e", dim = 8,
        threshold = threshold, minPts = minPts, bits = 2, tables = 12)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    spark.catalog.clearCache()
    // naive model from exact cosines
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = vecs.toMap
    val nbrs = vecs.map { case (i, _) =>
      i -> vecs.collect { case (j, v) if j != i &&
        cos(byId(i), v) >= threshold => j }.toSet
    }.toMap
    val cores = nbrs.collect { case (i, ns) if ns.size >= minPts - 1 => i }.toSet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map(cores.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for (i <- cores; j <- nbrs(i) if cores(j)) {
      val (a, b) = (find(i), find(j)); if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val label = cores.map(i => i -> cores.filter(j => find(j) == find(i)).min).toMap
    vecs.foreach { case (i, _) =>
      val (deg, role, cluster) = got(i)
      assert(deg == nbrs(i).size.toLong, s"deg of $i")
      if (cores(i)) {
        assert(role == "core" && cluster == label(i), s"core $i: $role/$cluster")
      } else if (nbrs(i).exists(cores)) {
        val want = nbrs(i).filter(cores).map(label).min
        assert(role == "border" && cluster == want, s"border $i: $role/$cluster")
      } else {
        assert(role == "noise" && cluster == -1L, s"noise $i: $role/$cluster")
      }
    }
    // the fixture exercised all three roles and the deg>0 noise case
    assert(got(20L)._2 == "border" && got(20L)._3 == 1L)
    assert(got(50L)._2 == "noise" && got(50L)._1 == 1L)
    assert(got(1L)._3 == 1L && got(30L)._3 == 30L, "two separate clusters")
  }

  test("semDedup tier-2 skip engages on the bench corpus (no quantized collapse)") {
    // The r10 adaptive bound, pinned against the ACTUAL bench corpus:
    // sf0.1 holds 2,000 vectors in ~45 auto cells with maxCellReps ≈ 57 —
    // far under the 4096 bound — so the registered query must take the
    // EXACT plan (no tier-2 xxhash64 code-grouping anywhere). Forcing the
    // bound low must flip the switch. Component timings (COVERAGE r11):
    // at this N the whole tier-2 stage was ~noise next to the 0.85 s
    // k-means training + 0.45 s rep materialization, which is why the
    // close bench shows the skip as ~flat, not the mid-r10 1.55 s claim.
    GraftFunctions.register(spark)
    val v = Tables(spark, "/root/testdata/sf0.1", "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val skipped = VectorSearch.semDedup(v, "vec_id", "e", 0.45)
    assert(!skipped.queryExecution.optimizedPlan.toString.contains("xxhash64"),
      "sf0.1 bench corpus must take the exact (tier-2-skipped) plan")
    val forced = VectorSearch.semDedup(v, "vec_id", "e", 0.45,
      tier2CellBound = 1)
    assert(forced.queryExecution.optimizedPlan.toString.contains("xxhash64"),
      "forcing the bound low must engage the quantized collapse")
    spark.catalog.clearCache()
  }

  test("semDedup survives 90% exact duplication (pre-collapse skew guard)") {
    GraftFunctions.register(spark)
    // 45k copies of ONE vector + 5k noisy members of 8 spread clusters:
    // without the exact-dup pre-collapse the mega cell costs ~10^9 pairs;
    // with it, the pair join runs over ~5k reps
    val rng = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian() * 5))
    // the hot vector gets its OWN direction (drawn after the centers),
    // so no base member sits within the 0.999 threshold of it and the
    // copy group's min id is decidable from the group alone
    val hot = Array.fill(16)(rng.nextGaussian() * 5).toSeq
    val base = (0 until 5000).map { i =>
      (i.toLong, centers(i % 8).map(x => x + rng.nextGaussian() * 0.3).toSeq)
    }
    val copies = (5000 until 50000).map(i => (i.toLong, hot))
    val df = (base ++ copies).toDF("vec_id", "e").repartition(8).cache()
    df.count()
    val t0 = System.nanoTime()
    val got = VectorSearch.semDedup(df, "vec_id", "e",
        threshold = 0.999, k = 16)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"semDedup on 50k vectors (45k one exact group): $secs%.1f s")
    val keepByid = got.toMap
    assert(got.length === 50000)
    // every non-min copy drops; the min copy (5000) keeps unless a
    // lower-id cluster-mate sits within threshold (noise makes ≥0.999
    // to a non-copy essentially impossible)
    assert((5001 until 50000).forall(i => keepByid(i.toLong) == 0),
      "all non-min exact copies must drop")
    assert(keepByid(5000L) == 1, "the min-id copy is the group's keeper")
    assert(secs < 120, f"mega-group must not straggle: $secs%.1f s")
  }

  test("semDedup survives 90% NEAR-identical duplication (quantized collapse)") {
    GraftFunctions.register(spark)
    // 45k ε-PERTURBED (uniformly rescaled — bit-distinct floats, cosine
    // exactly 1, identical int8 codes) copies of one hot vector + 5k
    // noisy members of 8 spread clusters. The tier-1 exact collapse
    // can't touch these (no two are bit-identical); without the tier-2
    // quantized collapse the hot cell pays ~10^9 rep pairs.
    val rng = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian() * 5))
    val hot = Array.fill(16)(rng.nextGaussian() * 5).toSeq
    val base = (0 until 5000).map { i =>
      (i.toLong, centers(i % 8).map(x => x + rng.nextGaussian() * 0.3).toSeq)
    }
    val copies = (5000 until 50000).map { i =>
      val s = 1.0 + 1e-9 * ((i % 997) + 1)
      (i.toLong, hot.map(_ * s))
    }
    assert(copies.map(_._2).distinct.size > 900,
      "perturbed copies must be value-distinct (the tier-1 guard is blind)")
    val df = (base ++ copies).toDF("vec_id", "e").repartition(8).cache()
    df.count()
    val t0 = System.nanoTime()
    val got = VectorSearch.semDedup(df, "vec_id", "e",
        threshold = 0.999, k = 16)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"semDedup on 50k vectors (45k one near-identical family): $secs%.1f s")
    val keepByid = got.toMap
    assert(got.length === 50000)
    // decision-equality with all-pairs on the family: every pair of
    // rescaled copies has cosine 1 ≥ threshold, so all-pairs keeps
    // exactly the min id — which is what the collapsed plan must yield
    assert((5001 until 50000).forall(i => keepByid(i.toLong) == 0),
      "all non-min near-identical copies must drop")
    assert(keepByid(5000L) == 1, "the min-id copy is the family's keeper")
    assert(secs < 120, f"near-identical mega-family must not straggle: $secs%.1f s")
  }

  test("semDedup quantized collapse is gated by the half-angle bound") {
    GraftFunctions.register(spark)
    // Pathological same-code pair BELOW the bound: (1, .003 ×100) and
    // (1, -.003 ×100) share the int8 code (127, 0 ×100) — every .003
    // rounds to 0 at scale 1/127 — but their cosine ≈ 0.9982 sits under
    // both the 0.999 threshold and the collapse bound √(1.999/2) ≈
    // 0.99975. The gate must keep BOTH (all-pairs keeps both); an
    // ungated collapse would wrongly drop id 2. A third, uniformly
    // rescaled copy of id 1 is IN bound (cosine 1) and must drop.
    // tier2CellBound = 1 FORCES tier-2 on this 3-rep cell (the default
    // bound would adaptively skip it — covered by the next test).
    val v1 = 1.0 +: Seq.fill(100)(0.003)
    val v2 = 1.0 +: Seq.fill(100)(-0.003)
    val v3 = v1.map(_ * 1.0000001)
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "e")
    val got = VectorSearch.semDedup(df, "vec_id", "e",
        threshold = 0.999, k = 1, tier2CellBound = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got(1L) == 1, "min-id rep keeps")
    assert(got(2L) == 1,
      "same-code rep below the collapse bound must get the exact decision")
    assert(got(3L) == 0, "in-bound rescaled copy collapses and drops")
  }

  test("semDedup tier-2 stays OFF below the cell bound (exact path)") {
    GraftFunctions.register(spark)
    // Same vectors as the gate test under the DEFAULT bound: no cell
    // exceeds SemDedupTier2CellBound, so the operator must run the exact
    // all-pairs-within-cell rule — identical decisions here (the gate is
    // decision-safe), reached WITHOUT the tier-2 shuffles. The plan
    // check pins the skip: no xxhash64 of a quantized code appears.
    val v1 = 1.0 +: Seq.fill(100)(0.003)
    val v2 = 1.0 +: Seq.fill(100)(-0.003)
    val v3 = v1.map(_ * 1.0000001)
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "e")
    val out = VectorSearch.semDedup(df, "vec_id", "e",
      threshold = 0.999, k = 1)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("xxhash64"),
      "default-bound 3-rep corpus must skip the tier-2 quantized collapse")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(got === Map(1L -> 1, 2L -> 1, 3L -> 0),
      "exact path must equal the all-pairs decisions")
  }

  test("NearestCells: matches a Scala top-n by dot product, ties to lowest cell") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    // 40 cells forces the native path in assign/probe (threshold 32);
    // duplicate a centroid so the lowest-index tie rule is exercised
    val base = Array.fill(39)(Array.fill(8)(rng.nextGaussian()))
    val m = base :+ base(5).clone()
    val vecs = (0L until 200L).map(i => (i, Seq.fill(8)(rng.nextGaussian())))
    val df = vecs.toDF("vec_id", "e")
    val got = df.select(col("vec_id"),
        GraftFunctions.nearestCells(col("e"), m, 3).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      val scored = m.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (a, b) => a * b }.sum, i)
      }
      // dot desc, ties → lowest index (stable sort on index asc first)
      val want = scored.sortBy(_._2).sortBy(-_._1).take(3).map(_._2).toSeq
      assert(got(id) == want, s"vec $id: got ${got(id)}, want $want")
    }
  }

  test("IVF auto mode (cells ~ sqrt(N), sampled Lloyd) returns sane neighbors") {
    GraftFunctions.register(spark)
    val emb = Tables(spark, sf(""), "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .cache()
    val q = emb.filter(col("vec_id") < 5)
    val ivf = VectorSearch.ivfCosine(emb, q, "vec_id", "e",
      k = 10, nCells = 0, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = VectorSearch.bruteForceCosine(emb, q, "vec_id", "e", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing 3 of ~sqrt(N) cells covers a FRACTION of the corpus by
    // design (3/23 ≈ 13% on the 500-vector fixture); what the index must
    // deliver is recall WELL above that random-probing baseline — i.e.
    // true neighbors concentrate in the probed cells — not exactness
    val cells = VectorSearch.autoCells(500)
    val baseline = 3.0 / cells
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= math.max(0.3, 2 * baseline),
      s"IVF auto-mode recall $recall vs random-probe baseline $baseline")
    assert(ivf.nonEmpty && !ivf.exists { case (q2, n) => q2 == n },
      "self-matches must be excluded")
  }

  test("nearDupPairs: exact precision, high recall, no product in plan") {
    GraftFunctions.register(spark)
    val v = Tables(spark, sf(""), "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .cache()
    def dotp(a: String, b: String) =
      GraftFunctions.dotProduct(col(a), col(b))
    val withN = v.withColumn("nrm", sqrt(dotp("e", "e")))
    val exact = withN.select(col("vec_id").as("vec_a"), col("e").as("ea"),
        col("nrm").as("na"))
      .crossJoin(withN.select(col("vec_id").as("vec_b"), col("e").as("eb"),
        col("nrm").as("nb")))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("c", dotp("ea", "eb") / (col("na") * col("nb")))
      .filter(col("c") >= 0.45)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorSearch.nearDupPairs(v, "vec_id", "e", dim = 64,
      threshold = 0.45, bits = 3, tables = 12)
    val got = lsh.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision exact by construction (candidates are verified)
    assert(got.subsetOf(exact), s"false positives: ${(got -- exact).take(5)}")
    // recall at the hard 0.45-0.6 cosine regime (expected ≈ 0.98)
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.9, s"near-dup LSH recall $recall too low")
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("nearDupPairs first-collision dedup: each colliding pair exactly " +
      "once, in both the packed and the array signature forms") {
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    val vecs = (0 until 120).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian()).toSeq))
    val df = vecs.toDF("vec_id", "e").cache()
    // (3, 12) = 36 bits -> packed-long signature; (11, 6) = 66 bits ->
    // array fallback. threshold = -1 keeps every candidate so the test
    // isolates dedup, not verification.
    for ((bits, tables) <- Seq((3, 12), (11, 6))) {
      val got = VectorSearch.nearDupPairs(df, "vec_id", "e", dim = 16,
        threshold = -1.0, bits = bits, tables = tables)
        .groupBy("vec_a", "vec_b").count().collect()
      assert(got.forall(_.getLong(2) == 1L),
        s"duplicate candidate pairs at bits=$bits tables=$tables")
      val gotSet = got.map(r => (r.getLong(0), r.getLong(1))).toSet
      // driver-side reference: same hyperplanes, same sign rule, dedup
      // by definition (any shared bucket in any table)
      def bucket(e: Seq[Double], planes: Array[Array[Double]]): Long =
        planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
          if (p.zip(e).map { case (a, b) => a * b }.sum >= 0)
            acc | (1L << i) else acc
        }
      val sigs = vecs.map { case (id, e) => id -> (0 until tables).map(t =>
        bucket(e, VectorSearch.hyperplanes(16, bits, 42L + t))).toArray }
      val expected = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && (0 until tables).exists(t => sa(t) == sb(t))
      } yield (a, b)).toSet
      assert(gotSet == expected,
        s"pair set mismatch at bits=$bits tables=$tables: " +
          s"missing=${(expected -- gotSet).take(3)} extra=${(gotSet -- expected).take(3)}")
    }
  }

  test("SimHash: near-identical texts land within small Hamming distance") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and once"
    val c = "completely different words about spark query engines at scale"
    assert(SimHash.hamming(SimHash.simhash(a), SimHash.simhash(b)) <= 6)
    assert(SimHash.simhash(a) === SimHash.simhash(a)) // deterministic
    // unrelated text: expected ~8 bits differ; just require non-identity
    assert(SimHash.simhash(a) !== SimHash.simhash(c))
  }

  test("simhash pair query matches brute-force Hamming enumeration") {
    val pairs = graft.queries.Registry.byName("doc_simhash_pairs")
      .run(spark, sf("")).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val sigs = Tables(spark, sf(""), "documents")
      .select(col("doc_id"), TextFunctions.simhash32(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(pairs === expected)
  }

  test("rolling hash fingerprint: deterministic, order-sensitive") {
    import graft.functions.RollingHash
    assert(RollingHash.hash("abc") === ((('a' * 31) + 'b') * 31 + 'c') % 1000000007L)
    assert(RollingHash.hash("abc") !== RollingHash.hash("acb"))
    assert(RollingHash.hash("") === 0L)
    // Spark expression path matches the pure function
    TextFunctions.register(spark)
    val viaExpr = Seq("abc", "hello world").toDF("t")
      .select(TextFunctions.rollingHash(col("t"))).collect().map(_.getLong(0))
    assert(viaExpr.toSeq === Seq(RollingHash.hash("abc"), RollingHash.hash("hello world")))
  }

  test("langid: classic samples route to the right profile") {
    assert(TextAnalysis.LangId.detect(
      "the cat sat on the mat and it was happy with this") === "en")
    assert(TextAnalysis.LangId.detect(
      "el perro corre por la calle y se va para la casa") === "es")
    assert(TextAnalysis.LangId.detect(
      "der Hund läuft auf der Straße und ist nicht müde") === "de")
    assert(TextAnalysis.LangId.detect(
      "le chien court dans la rue et il est pour les amis") === "fr")
    assert(TextAnalysis.LangId.detect("") === "unknown")
    assert(TextAnalysis.LangId.detect("12345 67890") === "unknown")
  }

  test("bpeish token count: matches manual tokenization") {
    val df = Seq("hello, world 42", "a  b").toDF("t")
    val counts = df.select(TextAnalysis.bpeishTokenCount(col("t")))
      .collect().map(_.getInt(0)).toSeq
    // "hello" "," " " "world" " " "4" "2"  → 7 ; "a" "  " "b" → 3
    assert(counts === Seq(7, 3))
  }
}
