package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("dotE8 is the exact quantized integer dot product") {
    graft.functions.DotE8.register(spark)
    val df = Seq((Array(1.0f, 0.5f), Array(0.5f, 1.0f)))
      .toDF("qe", "embedding")
      .select(Similarity.dotE8("qe", "embedding").as("d"))
    // round(1*1e4)*round(.5*1e4)*2 = 10000*5000 + 5000*10000
    assert(df.as[Long].head() == 100000000L)
  }

  test("DotE8 codegen and interpreted paths agree with the HOF formulation") {
    graft.functions.DotE8.register(spark)
    val rnd = new scala.util.Random(3)
    val rows = (0L until 50L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("id", "a", "b")
    val native = df.select(col("id"), Similarity.dotE8("a", "b").as("d"))
      .orderBy("id").as[(Long, Long)].collect()
    val hof = df.select(col("id"), expr(
      """aggregate(zip_with(a, b, (x, y) ->
        |cast(round(cast(x as double) * 10000) as bigint)
        |  * cast(round(cast(y as double) * 10000) as bigint)),
        |0L, (acc, v) -> acc + v)""".stripMargin).as("d"))
      .orderBy("id").as[(Long, Long)].collect()
    assert(native.toSeq == hof.toSeq)
  }

  test("roundE4 rounds negative exact ties away from zero like SQL round()") {
    // -0.03125 is exactly representable; ·10⁴ = -312.5, an exact tie:
    // Math.round gives -312, Spark/DuckDB round() give -313
    assert(graft.functions.DotE8.roundE4(-0.03125f) == -313L)
    assert(graft.functions.DotE8.roundE4(0.03125f) == 313L)
    assert(Math.round(-0.03125 * 10000.0) == -312L, "tie exists")
    // and through the expression (codegen path), against Spark's round()
    graft.functions.DotE8.register(spark)
    val df = Seq((Array(-0.03125f), Array(1.0f))).toDF("a", "b")
    val viaExpr = df.select(Similarity.dotE8("a", "b")).as[Long].head()
    val viaSqlRound = df.select(expr(
      "cast(round(cast(a[0] as double) * 10000) as bigint) * " +
        "cast(round(cast(b[0] as double) * 10000) as bigint)"))
      .as[Long].head()
    assert(viaExpr == -313L * 10000L && viaExpr == viaSqlRound)
  }

  test("dot_e4c multiplies quantized floats against an integer array") {
    graft.functions.DotE8.register(spark)
    val df = Seq((Array(1.0f, -0.5f, 0.25f), Seq(3L, 2L, -4L)))
      .toDF("a", "c")
      .select(expr("dot_e4c(a, c)").as("d"))
    // 10000*3 + (-5000)*2 + 2500*(-4) = 30000 - 10000 - 10000
    assert(df.as[Long].head() == 10000L)
  }

  test("ivfTopK: projection-only assignment, within-cell answers") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 1),
      (2L, Array(0.8f, 0.0f, 0.1f, 0.0f), 1),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 2),
      (4L, Array(0.1f, 0.9f, 0.0f, 0.0f), 2),
      (5L, Array(0.0f, 0.8f, 0.2f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.ivfTopK(emb,
      col("vec_id") === 0 || col("vec_id") === 3, k = 2, dims = 4)
    // the assignment path must be join-free: the only join in the plan
    // is the broadcast of the query side
    val joins = r.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.length == 1, s"expected 1 join (query broadcast), got $joins")
    val byQ = r.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(3)).toSet).toMap
    assert(byQ(0L) == Set(1L, 2L) && byQ(3L) == Set(4L, 5L))
  }

  test("annRecall: full probe budget recovers every exact neighbour; " +
    "starved probes report the independent intersection count") {
    val rnd = new scala.util.Random(7)
    val emb = (0L until 120L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1), (i % 4).toInt + 1)
    }.toDF("vec_id", "embedding", "label")
    // nprobe ≥ L ⇒ the IVF candidate set is the whole corpus ⇒ recall 1
    val full = Similarity.annRecall(emb, col("vec_id") < 5, k = 4,
      dims = 8, nprobe = 99).collect()
    assert(full.length == 5 && full.forall(_.getLong(2) == 10000L))
    // nprobe=1: hits must equal the intersection of the two legs,
    // recomputed here independently
    val r1 = Similarity.annRecall(emb, col("vec_id") < 5, k = 4,
      dims = 8, nprobe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Similarity.knnBrute(emb,
      emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")), 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val approx = Similarity.ivfTopK(emb, col("vec_id") < 5, k = 4,
      dims = 8, nprobe = 1)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(3)).toSet).toMap
    assert(r1.keySet == (0L until 5L).toSet)
    (0L until 5L).foreach { q =>
      assert(r1(q) ==
        exact(q).intersect(approx.getOrElse(q, Set.empty)).size.toLong)
    }
  }

  test("annRecall: a query probing the wrong cell still appears, at 0") {
    // centroids land at c1=(9000,3000), c2=(3000,9000); the query
    // (8000,6000) probes cell 1 (dot 90e6 > 78e6) but its true top-1
    // (6000,8000, dot 96e6) argmax-ASSIGNS to cell 2 (90e6 > 78e6) —
    // the straddled decision boundary nprobe=1 cannot cross. Zero
    // hits, and the query row must still appear.
    val emb = Seq(
      (0L, Array(0.8f, 0.6f), 1), // query
      (1L, Array(1.0f, 0.0f), 1),
      (2L, Array(0.0f, 1.0f), 2),
      (3L, Array(0.6f, 0.8f), 2)).toDF("vec_id", "embedding", "label")
    val z = Similarity.annRecall(emb, col("vec_id") === 0, k = 1,
      dims = 2, nprobe = 1).collect()
    assert(z.length == 1 && z(0).getLong(1) == 0L && z(0).getLong(2) == 0L)
  }

  test("kmeansAssign: misplaced vectors migrate, assignment is join-free " +
    "and converges") {
    // two tight direction clusters, but three vectors START in the
    // wrong cell (label 2); one Lloyd round must pull them home, and a
    // second round must change nothing (fixpoint)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 2), // wrong init
      (2L, Array(0.8f, 0.0f, 0.1f, 0.0f), 2), // wrong init
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 2),
      (4L, Array(0.1f, 0.9f, 0.0f, 0.0f), 2),
      (5L, Array(0.0f, 0.8f, 0.2f, 0.0f), 1)) // wrong init
      .toDF("vec_id", "embedding", "label")
    val r1 = Similarity.kmeansAssign(emb, iters = 1, dims = 4)
    // assignment must stay join-free (centroids travel as a broadcast)
    val joins = r1.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty, s"kmeans assignment must not join: $joins")
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val c1 = cells(r1)
    // x-direction vectors share one cell, y-direction the other
    assert(Set(0L, 1L, 2L).map(c1) .size == 1)
    assert(Set(3L, 4L, 5L).map(c1).size == 1)
    assert(c1(0L) != c1(3L))
    // fixpoint: a second and third round change nothing
    val c3 = cells(Similarity.kmeansAssign(emb, iters = 3, dims = 4))
    assert(c3 == c1)
  }

  // Plain Scala reference for the centroid assignment and probe order:
  // e4-quantized components, floor-div centroid means per label, exact
  // int64 dots, cells ranked by (dot desc, label asc).
  private def quant(e: Array[Float]): Array[Long] =
    e.map(graft.functions.DotE8.roundE4)
  private def dotRef(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => a(i) * b(i)).sum
  private def centroidsRef(vs: Seq[(Array[Long], Int)]): Seq[(Int, Array[Long])] =
    vs.groupBy(_._2).toSeq.sortBy(_._1).map { case (lab, g) =>
      lab -> g.head._1.indices.map(d =>
        Math.floorDiv(g.map(_._1(d)).sum, g.size.toLong)).toArray
    }
  private def rankedCells(e: Array[Long], cs: Seq[(Int, Array[Long])]): Seq[Int] =
    cs.sortBy { case (lab, c) => (-dotRef(e, c), lab) }.map(_._1)

  test("broadcast-matrix assignment matches a Scala Lloyd reference " +
    "(values, ties, join-free plan)") {
    val rnd = new scala.util.Random(7)
    // labels 1 and 2 hold IDENTICAL single vectors → identical centroids
    // → every row's dots against cells 1 and 2 tie exactly, and the
    // break must go to the smallest label
    val tied = Seq(
      (900L, Array.fill(16)(0.25f), 1),
      (901L, Array.fill(16)(0.25f), 2))
    val rows = (0L until 300L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1), (i % 10).toInt + 3)
    } ++ tied
    val emb = rows.toDF("vec_id", "embedding", "label")
    // two Lloyd rounds from the label init
    var ref = rows.map { case (id, e, lab) => (id, quant(e), lab) }
    (1 to 2).foreach { _ =>
      val cs = centroidsRef(ref.map(r => (r._2, r._3)))
      ref = ref.map { case (id, e, _) => (id, e, rankedCells(e, cs).head) }
    }
    val viaBroadcast = Similarity.kmeansAssign(emb, iters = 2, dims = 16)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaBroadcast == ref.map(r => r._1 -> r._3).toMap)
    assert(viaBroadcast(900L) == 1 && viaBroadcast(901L) == 1,
      "exact tie must break to the smallest label")
    // the broadcast assignment is a projection, never a join
    val r = Similarity.kmeansAssign(emb, iters = 1, dims = 16)
    val joins = r.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty, s"broadcast kmeans assignment must not join: $joins")
  }

  test("ArgmaxDot interpreted helpers match a brute-force reference " +
    "(the non-codegen eval path)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val labels = Array(3, 7, 9)
    val matrix = Array(
      Array(10000L, 0L, 0L, 0L),
      Array(0L, 10000L, 0L, 0L),
      Array(10000L, 0L, 0L, 0L)) // duplicate of row 0 → tie with label 3
    val bc = spark.sparkContext.broadcast((labels, matrix))
    def arr(fs: Float*) = ArrayData.toArrayData(fs.toArray)
    // x-direction vector: rows 0 and 2 tie, smallest label (3) wins
    assert(graft.functions.ArgmaxDot.argmax(arr(1.0f, 0.1f, 0f, 0f), bc) == 3)
    // y-direction vector: row 1 wins outright
    assert(graft.functions.ArgmaxDot.argmax(arr(0.1f, 1.0f, 0f, 0f), bc) == 7)
    // topCells order: (dot desc, label asc) — ties 3 before 9
    def top(k: Int, fs: Float*): Seq[Int] =
      graft.functions.ArgmaxDot.topCells(arr(fs: _*), bc, k)
        .toIntArray().toSeq
    assert(top(3, 1.0f, 0.1f, 0f, 0f) == Seq(3, 9, 7))
    assert(top(2, 0.1f, 1.0f, 0f, 0f) == Seq(7, 3))
    assert(top(99, 0.1f, 1.0f, 0f, 0f) == Seq(7, 3, 9), "k past L → all L")
    // length contract: embedding shorter than centroids uses the
    // shared prefix, like dot_e4c's min-length rule
    assert(graft.functions.ArgmaxDot.argmax(arr(0.5f, 1.0f), bc) == 7)
    bc.destroy()
  }

  test("ivfTopK broadcast path matches a Scala reference incl. nprobe " +
    "probe cells") {
    val rnd = new scala.util.Random(19)
    val rows = (0L until 200L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1), (i % 6).toInt + 1)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    // one Lloyd step from the label init, then exact within-cell top-k
    // over the query's `nprobe` best cells
    val qv = rows.map { case (id, e, lab) => (id, quant(e), lab) }
    val cs = centroidsRef(qv.map(r => (r._2, r._3)))
    val cell = qv.map { case (id, e, _) => id -> rankedCells(e, cs).head }.toMap
    def ref(qids: Set[Long], k: Int,
        nprobe: Int): Set[(Long, Int, Long, Long, Long)] =
      qv.filter(r => qids(r._1)).flatMap { case (qid, qe, _) =>
        rankedCells(qe, cs).take(nprobe).flatMap { c =>
          qv.filter(r => r._1 != qid && cell(r._1) == c)
            .map(r => (r._1, c, dotRef(qe, r._2)))
        }.sortBy { case (nid, _, d) => (-d, nid) }.take(k).zipWithIndex
          .map { case ((nid, c, d), i) => (qid, c, i + 1L, nid, d) }
      }.toSet
    def res(filter: org.apache.spark.sql.Column, k: Int,
        nprobe: Int): Set[(Long, Int, Long, Long, Long)] =
      Similarity.ivfTopK(emb, filter, k = k, dims = 8, nprobe = nprobe)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
    assert(res(col("vec_id") < 5, k = 3, nprobe = 3) ==
      ref((0L until 5L).toSet, k = 3, nprobe = 3))
    // nprobe past L (= 6 cells) probes every cell
    assert(res(col("vec_id") === 0, k = 2, nprobe = 99) ==
      ref(Set(0L), k = 2, nprobe = 99))
  }

  test("semanticDedup drops the larger id of a within-cell near-pair, " +
    "keeps cross-cell pairs") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f), 1),  // ~dup of 0, same cell
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f), 1),    // same cell, orthogonal
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 2),
      (4L, Array(0.0f, 0.98f, 0.0f, 0.02f), 2))  // ~dup of 3, same cell
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.semanticDedup(emb, threshold = 0.95, dims = 4)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(r == Map(0L -> 1, 1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0))
    // recall contract: a near-pair SPLIT across cells is not seen —
    // vector 5 duplicates 0 but its init cell pulls it elsewhere…
    val split = emb.unionByName(Seq(
      (5L, Array(1.0f, 0.001f, 0.0f, 0.0f), 2)) // wrong cell for dup-of-0
      .toDF("vec_id", "embedding", "label"))
    val r2 = Similarity.semanticDedup(split, threshold = 0.95, dims = 4)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    // …but one Lloyd round re-homes it next to 0 and it IS caught
    assert(r2(5L) == 0, s"re-homed duplicate should drop: $r2")
  }

  test("ragged (short) vectors degrade like the oracles' absent dims " +
    "instead of throwing under ANSI") {
    // bare element_at past the end THROWS under Spark's default ANSI
    // mode; the oracles (subscript access / unnest) treat a missing
    // dim as absent. One 2-dim vector among 4-dim ones:
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f), 1),
      (1L, Array(5.0f, 6.0f), 1)) // short
      .toDF("vec_id", "embedding", "label")
    val ls = Similarity.labelStats(emb, nDims = 4).collect().head
    assert(ls.getLong(1) == 2) // n counts ALL rows (oracle count(*))
    assert(ls.getLong(2) == 60000L && ls.getLong(3) == 80000L) // d1,d2 both
    assert(ls.getLong(4) == 30000L && ls.getLong(5) == 40000L) // d3,d4 one
    val cov = Similarity.covarianceStats(emb, nDims = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // pair statistics scope to rows possessing BOTH dims — the
    // oracle's inner-join semantics
    assert(cov((1, 2)) == 2 && cov((1, 3)) == 1 && cov((3, 4)) == 1)
  }

  test("zero-norm vectors are never duplicates or contamination " +
    "(NaN cosine must not pass the threshold)") {
    // a dead vector (all zeros — or all |x| < 5e-5, which e4
    // quantization rounds to zero) has nrm = 0 and cosine 0/0 = NaN;
    // Spark orders NaN above every threshold, so without the guard one
    // dead vector marks every larger-id cell-mate a duplicate
    val dead = Array(0.0f, 0.0f, 0.0f, 0.0f)
    val emb = Seq(
      (0L, dead, 1),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (3L, dead, 1)) // two dead vectors are not each other's dups either
      .toDF("vec_id", "embedding", "label")
    val sd = Similarity.semanticDedup(emb, threshold = 0.5, dims = 4)
      .collect().map(x => x.getLong(0) -> x.getInt(2)).toMap
    assert(sd == Map(0L -> 1, 1L -> 1, 2L -> 1, 3L -> 1), s"got $sd")
    val cd = Similarity.cosineNearDups(emb, threshold = 0.5, dim = 4)
      .collect()
    assert(cd.forall(r => r.getLong(0) != 0L && r.getLong(1) != 0L
      && r.getLong(0) != 3L && r.getLong(1) != 3L),
      s"dead vector paired: ${cd.toSeq}")
    // decontamination: a zero TRAIN vector is clean; a zero BENCH
    // vector flags nothing
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (101L, dead)).toDF("bench_id", "embedding")
    val dec = Similarity.embedDecontaminate(emb, bench, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(dec == Map(0L -> false, 1L -> true, 2L -> false, 3L -> false),
      s"got $dec")
  }

  test("semanticDedup releases its assignment cache after the result's " +
    "first materialization") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f), 1),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = Similarity.semanticDedup(emb, threshold = 0.95, dims = 4)
    assert(r.count() == 3)
    // the listener bus is async: poll until the cache drains
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty,
      s"assignment cache still pinned after materialization: $leaked")
    // a second materialization recomputes and still answers correctly
    assert(r.where(col("keep") === 1).count() == 2)
  }

  test("clusterBalancedSample: per-cell quota in hash order, tail cell " +
    "fully represented") {
    // a dense x-cluster (6 vecs) and a sparse y-cluster (2 vecs):
    // k=2 takes 2 from each — the tail cell is NOT drowned by density
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 1),
      (2L, Array(0.8f, 0.2f, 0.0f, 0.0f), 1),
      (3L, Array(0.9f, 0.0f, 0.1f, 0.0f), 1),
      (4L, Array(0.8f, 0.0f, 0.2f, 0.0f), 1),
      (5L, Array(0.7f, 0.3f, 0.0f, 0.0f), 1),
      (6L, Array(0.0f, 1.0f, 0.0f, 0.0f), 2),
      (7L, Array(0.0f, 0.9f, 0.1f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.clusterBalancedSample(emb, k = 2, dims = 4)
      .collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // 2 per cell, 4 total
    assert(r.length == 4)
    assert(r.groupBy(_._1).forall(_._2.length == 2))
    // membership + order = the 2 smallest (hash, id) of each cell
    graft.functions.PolyHash31.register(spark)
    val hashes = emb.select(col("vec_id"),
        Sampling.splitHash("diverse", col("vec_id")).as("h"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val byCell = Map(1 -> Seq(0L, 1L, 2L, 3L, 4L, 5L), 2 -> Seq(6L, 7L))
    byCell.foreach { case (cell, ids) =>
      val want = ids.map(id => (hashes(id), id)).sorted.take(2)
        .zipWithIndex.map { case ((h, id), i) => (i + 1L, id, h) }
      val got = r.filter(_._1 == r.filter(x => ids.contains(x._3))
          .head._1).sortBy(_._2).map(x => (x._2, x._3, x._4)).toSeq
      assert(got == want, s"cell $cell")
    }
  }

  test("knnBrute ranks by quantized dot desc with id tie-break") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val q = emb.where(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val r = Similarity.knnBrute(emb, q, 3).orderBy("rn").collect()
      .map(x => (x.getLong(1), x.getLong(2)))
    // ids 1 and 3 tie on dot; id asc breaks the tie
    assert(r.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("planeWeights is deterministic and matches the oracle formula") {
    val w = Similarity.planeWeights(0, 4)
    assert(w == Seq((37 * 1 + 91) % 1000 - 500, (37 * 2 + 91) % 1000 - 500,
      (37 * 3 + 91) % 1000 - 500, (37 * 4 + 91) % 1000 - 500))
  }

  test("annLsh returns neighbors only from the query's bucket") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 40L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val r = Similarity.annLsh(emb, col("vec_id") < 3, k = 5,
      nPlanes = 4, dim = 8).collect()
    assert(r.nonEmpty)
    val buckets = r.map(x => (x.getLong(0), x.getLong(1))).distinct
    assert(buckets.map(_._1).distinct.length == buckets.length,
      "one bucket per query")
    r.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).distinct.length == rows.length)
      assert(rows.length <= 5)
    }
  }

  test("annLsh multi-probe reaches Hamming-1 buckets, superset of single") {
    val rnd = new scala.util.Random(23)
    val emb = (0L until 120L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    def nids(np: Int) = Similarity.annLsh(emb, col("vec_id") < 2, k = 50,
      nPlanes = 4, dim = 8, nProbes = np).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(3)).toSet).toMap
    val one = nids(1)
    val three = nids(3)
    one.foreach { case (q, ns) => assert(ns.subsetOf(three(q))) }
    // with 120 vectors over 16 buckets, the two flipped buckets are
    // non-empty with overwhelming probability under this seed
    assert(three.exists { case (q, ns) => ns.size > one.getOrElse(q, Set.empty[Long]).size })
  }

  test("ivfTopK nprobe widens the search to neighboring cells") {
    val emb = Seq(
      (0L, Array(0.6f, 0.4f, 0f, 0f), 1),
      (1L, Array(1.0f, 0.0f, 0f, 0f), 1),
      (2L, Array(0.9f, 0.1f, 0f, 0f), 1),
      (3L, Array(0.0f, 1.0f, 0f, 0f), 2),
      (4L, Array(0.1f, 0.9f, 0f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    def nids(np: Int) = Similarity.ivfTopK(emb, col("vec_id") === 0,
      k = 10, dims = 4, nprobe = np).collect().map(_.getLong(3)).toSet
    val one = nids(1)
    val two = nids(2)
    assert(one == Set(1L, 2L), "nprobe=1 stays in the query's own cell")
    assert(one.subsetOf(two) && two == Set(1L, 2L, 3L, 4L),
      "nprobe=2 adds the second-nearest cell")
  }

  test("cosineNearDups pairs bucket collisions above the cosine threshold") {
    // two near-parallel vectors (cos ≈ 1) plus an orthogonal one
    val emb = Seq(
      (0L, Array.fill(8)(0.5f)),
      (1L, Array.fill(8)(0.45f)),
      (2L, Array(0.5f, -0.5f, 0.5f, -0.5f, 0.5f, -0.5f, 0.5f, -0.5f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.cosineNearDups(emb, threshold = 0.9,
      nPlanes = 4, dim = 8).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((0L, 1L)))
    assert(r.head.getDouble(4) > 0.99 && r.head.getDouble(4) <= 1.0 + 1e-9)
  }

  test("cosineNearDups hot-bucket sub-blocking is pair-set-identical " +
    "to the plain bucket self-join") {
    // 40 near-parallel vectors land in ONE bucket; maxBlock = 3 forces
    // the hot branch (gate collects the bucket, nb = ceil(40/3) = 14,
    // the d1 side replicates across 14 blocks) — every same-bucket
    // pair must still meet exactly once, so the two branches return
    // identical pair sets.
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => 1.0f + (i * 8 + j) % 7 * 1e-3f))
    }.toDF("vec_id", "embedding")
    def pairs(mb: Int) = {
      Similarity.cosineNearDups(emb, threshold = 0.9, nPlanes = 4,
        dim = 8, maxBlock = mb)
        .orderBy("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
        .toSeq
    }
    val plain = pairs(100000) // no bucket over the cap → plain branch
    val split = pairs(3)      // every 40-row bucket splits 14 ways
    assert(plain.nonEmpty, "fixture produced no near-dup pairs")
    assert(split == plain,
      s"sub-blocked branch diverges: plain=${plain.size} rows, " +
        s"split=${split.size} rows")
  }

  test("cosineNearDups takes the hot-bucket decision per call: files " +
    "rewritten under an identical plan re-decide the split") {
    // the near-parallel vectors of the case above share ONE bucket; the
    // first write holds 4 of them (≤ maxBlock = 5 → plain bucket join),
    // the rewrite all 40 (→ sub-blocked on (bucket, blk), nb = 8)
    def vecs(n: Int) = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(j => 1.0f + (i * 8 + j) % 7 * 1e-3f))
    }.toDF("vec_id", "embedding")
    def call(emb: DataFrame, mb: Int) = Similarity.cosineNearDups(emb,
      threshold = 0.9, nPlanes = 4, dim = 8, maxBlock = mb)
    def joinsOnBlk(df: DataFrame) = df.queryExecution.analyzed.exists {
      case j: Join => j.condition.exists(_.references.exists(_.name == "blk"))
      case _ => false
    }
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-cnd").toString
    vecs(4).write.mode("overwrite").parquet(dir)
    val emb1 = spark.read.parquet(dir)
    val r1 = call(emb1, 5)
    assert(!joinsOnBlk(r1))
    assert(pairs(r1).size == 6)
    vecs(40).write.mode("overwrite").parquet(dir)
    val emb2 = spark.read.parquet(dir)
    assert(emb2.queryExecution.analyzed.semanticHash() ==
      emb1.queryExecution.analyzed.semanticHash(),
      "the re-read plan must be identical to the first read's")
    val r2 = call(emb2, 5)
    assert(joinsOnBlk(r2),
      "the second call replayed the first call's plain-join decision")
    val split = pairs(r2)
    val r3 = call(emb2, 100000) // no bucket over the cap → plain branch
    assert(!joinsOnBlk(r3))
    val plain = pairs(r3)
    assert(split.size == 40 * 39 / 2 && split == plain)
  }

  test("labelStats aggregates exact quantized sums per label") {
    val emb = Seq((0L, Array(0.5f, -0.5f), 1), (1L, Array(0.25f, 0.75f), 1),
      (2L, Array(1.0f, 0.0f), 2)).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelStats(emb, 2).orderBy("label").collect()
    assert(r(0).getInt(0) == 1 && r(0).getLong(1) == 2L
      && r(0).getLong(2) == 7500L && r(0).getLong(3) == 2500L)
    assert(r(1).getLong(2) == 10000L)
  }

  test("TopK.SmallestK keeps the k smallest pairs through reduce and merge") {
    val agg = new TopK.SmallestK(2)
    val b = Seq((5L, 1L), (3L, 1L), (9L, 0L), (3L, 0L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(b) == Seq((3L, 0L), (3L, 1L)))
    val merged = agg.merge(b, agg.reduce(agg.zero, (1L, 9L)))
    assert(agg.finish(merged) == Seq((1L, 9L), (3L, 0L)))
  }

  test("quantizationStats: exact int8 round-trip, zero-vector guard") {
    val d = Seq(
      (0L, Array(0.5f, -0.25f, 0.125f)),  // vs = 5000, -2500, 1250; m = 5000
      (1L, Array(0.0f, 0.0f, 0.0f)))      // all-zero: q = 0, no division
      .toDF("vec_id", "embedding")
    val r = Similarity.quantizationStats(d).orderBy("vec_id").collect()
    val v0 = r(0)
    assert(v0.getLong(1) == 3L && v0.getLong(2) == 5000L)
    // q for the max component is exactly ±127; -2500/5000·127 = -63.5
    // rounds away from zero to -64
    assert(v0.getLong(4) == 127L && v0.getLong(5) == -64L)
    // sse recomputed by hand: Σ(127·v − q·m)²
    val vs = Seq(5000L, -2500L, 1250L); val qs = Seq(127L, -64L, 32L)
    val sse = vs.zip(qs).map { case (v, q) =>
      val e = 127 * v - q * 5000; e * e }.sum
    assert(v0.getLong(3) == sse)
    assert(v0.getDouble(6) == sse.toDouble / (3L * 16129 * 5000 * 5000))
    val v1 = r(1)
    assert(v1.getLong(2) == 0L && v1.getLong(3) == 0L
      && v1.getDouble(6) == 0.0)
    // a 1-dim embedding must yield q2 = null (ANSI element_at would
    // throw), matching the oracle's out-of-range list index
    val short = Seq((9L, Array(0.5f))).toDF("vec_id", "embedding")
    val s = Similarity.quantizationStats(short).collect().head
    assert(s.getLong(4) == 127L && s.isNullAt(5))
  }

  test("covarianceStats: exact integer moments, hand-checked covariance") {
    val emb = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.covarianceStats(emb, nDims = 2)
      .orderBy("i", "j").collect()
    assert(r.map(x => (x.getInt(0), x.getInt(1))).toSeq
      == Seq((1, 1), (1, 2), (2, 2)))
    // v = (10000, 20000), (30000, 40000): every pair covariance is
    // (2·s_ij − s_i·s_j)/4 = 1e8 for this rank-1 layout
    r.foreach { x =>
      assert(x.getLong(2) == 2L, "n")
      assert(x.getDouble(6) == 1e8, s"cov(${x.getInt(0)},${x.getInt(1)})")
    }
    val p11 = r(0) // i=j=1: s=40000, s_ij=1e9
    assert(p11.getLong(3) == 40000L && p11.getLong(5) == 1000000000L)
    val p12 = r(1) // s_i=40000, s_j=60000, s_ij=1.4e9
    assert(p12.getLong(3) == 40000L && p12.getLong(4) == 60000L
      && p12.getLong(5) == 1400000000L)
  }

  test("pqEncode: m codes per vector, all in codebook range, join-free, " +
    "and a vector encodes to the cell its exact nearest centroid owns") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 120L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1), (i % 10 + 1).toInt))
      .toDF("vec_id", "embedding", "label")
    val m = 8; val codes = 16; val sd = 8
    val enc = Similarity.pqEncode(emb, m, codes, 64)
    val rows = enc.orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray)
    assert(rows.length == 120 && rows.forall(_._2.length == m))
    assert(rows.forall(_._2.forall(c => c >= 1 && c <= codes)))
    // encoding is a projection: no join anywhere in the plan
    val joins = enc.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty, s"pqEncode must not join: $joins")
    // brute-force reference: same codebooks, argmin squared distance
    // (ties to smallest code) must equal the 2·dot−‖c‖² argmax codes
    val books = Similarity.pqCodebooks(emb, m, codes, 64)
    val byId = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.foreach { case (id, cs) =>
      val x = byId(id).map(graft.functions.DotE8.roundE4)
      (0 until m).foreach { s =>
        val best = books(s).map { case (c, comps, _) =>
          val d = (0 until sd).map { j =>
            val diff = x(s * sd + j) - comps(j); diff * diff
          }.sum
          (d, c)
        }.min
        assert(cs(s) == best._2,
          s"vec $id sub $s: code ${cs(s)} != brute ${best._2}")
      }
    }
  }

  test("pqSearchAdc: ADC scores equal the explicit table sum, " +
    "deterministic across runs") {
    val rnd = new scala.util.Random(12)
    val emb = (0L until 90L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1), (i % 10 + 1).toInt))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.pqSearchAdc(emb, nQueries = 4, k = 3)
      .orderBy("qid", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.length == 12) // 4 queries × k=3
    assert(got.map(_._1).distinct.sameElements(Array(0L, 1L, 2L, 3L)))
    // per query the ranks are 1..k with non-increasing scores
    got.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(Array(1L, 2L, 3L)))
      assert(sorted.sliding(2).forall(p => p(0)._4 >= p(1)._4))
    }
    // brute ADC reference for one (query, neighbor): table lookups
    val books = Similarity.pqCodebooks(emb, 8, 16, 64)
    val codes = Similarity.pqEncode(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val q0 = emb.where(col("vec_id") === 0L).collect()(0)
      .getSeq[Float](1).toArray.map(graft.functions.DotE8.roundE4)
    val top = got.filter(_._1 == 0L).minBy(_._2)
    val expect = (0 until 8).map { s =>
      val code = codes(top._3)(s)
      val comps = books(s).find(_._1 == code).get._2
      (0 until 8).map(j => q0(s * 8 + j) * comps(j)).sum
    }.sum
    assert(top._4 == expect, s"ADC ${top._4} != table sum $expect")
    val again = Similarity.pqSearchAdc(emb, nQueries = 4, k = 3)
      .orderBy("qid", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.sameElements(again))
  }

  test("ivfPqTopK: every neighbor lives in one of the query's top-nprobe " +
    "cells, ranked by exact ADC table sums") {
    val rnd = new scala.util.Random(13)
    val n = 150
    val embRows = (0L until n).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1), (i % 6 + 1).toInt))
    val emb = embRows.toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfPqTopK(emb, nQueries = 3, k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.forall(_._3 >= 1) && got.forall(_._3 <= 4))
    // brute IVF reference: label-init centroids (floorDiv of e4 sums),
    // per-vector cell = argmax dot (tie smallest label), per-query
    // probes = top-2 cells by the same order
    val q = embRows.map { case (id, e, lab) =>
      (id, e.map(graft.functions.DotE8.roundE4), lab) }
    val cents = q.groupBy(_._3).map { case (lab, rows) =>
      val nn = rows.length
      lab -> Array.tabulate(64)(d =>
        Math.floorDiv(rows.map(_._2(d)).sum, nn))
    }
    def dots(v: Array[Long]) = cents.toSeq.map { case (lab, c) =>
      ((0 until 64).map(d => v(d) * c(d)).sum, lab) }
    def cellOf(v: Array[Long]) =
      dots(v).maxBy { case (d, lab) => (d, -lab) }._2
    def probesOf(v: Array[Long]) =
      dots(v).sortBy { case (d, lab) => (-d, lab) }.take(2).map(_._2).toSet
    val cellById = q.map(r => r._1 -> cellOf(r._2)).toMap
    val vById = q.map(r => r._1 -> r._2).toMap
    got.foreach { case (qid, clab, _, nid, _) =>
      assert(cellById(nid) == clab, s"neighbor $nid not in cell $clab")
      assert(probesOf(vById(qid)).contains(clab),
        s"query $qid scored un-probed cell $clab")
    }
  }

  test("embedDecontaminate: exact cosines, argmax ties to smallest " +
    "bench id, threshold verdicts") {
    val train = Seq(
      (0L, Array.fill(4)(0.5f)),              // ≡ bench 10 → cos 1.0
      (1L, Array(0.5f, -0.5f, 0.5f, -0.5f)),  // ⊥ bench 10, ≡ bench 12
      (2L, Array(0.5f, 0.5f, 0.5f, -0.5f)))   // cos 0.5 vs both
      .toDF("vec_id", "embedding")
    val bench = Seq(
      (10L, Array.fill(4)(0.5f)),
      (11L, Array.fill(4)(0.5f)),              // duplicate of 10: tie
      (12L, Array(0.5f, -0.5f, 0.5f, -0.5f)))
      .toDF("bench_id", "embedding")
    val r = Similarity.embedDecontaminate(train, bench, threshold = 0.9)
      .orderBy("vec_id").collect()
    assert(r(0).getDouble(1) == 1.0 && r(0).getLong(2) == 10L
      && r(0).getBoolean(3))                   // tie 10 vs 11 → 10
    assert(r(1).getDouble(1) == 1.0 && r(1).getLong(2) == 12L
      && r(1).getBoolean(3))
    assert(math.abs(r(2).getDouble(1) - 0.5) < 1e-12 && !r(2).getBoolean(3))
  }

  test("embedDecontaminate: one scan, zero joins, zero shuffles — the " +
    "benchmark rides the plan as literals") {
    val train = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(4)(d => (i * 4 + d) / 100.0f)))
      .toSeq.toDF("vec_id", "embedding")
    val bench = Seq((0L, Array(0.1f, 0.2f, 0.3f, 0.4f)))
      .toDF("bench_id", "embedding")
    val r = Similarity.embedDecontaminate(train, bench, threshold = 0.5)
    val plan = r.queryExecution.optimizedPlan
    assert(plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "decontamination must not join")
    val exec = r.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"), s"unexpected shuffle:\n$exec")
    assert(r.count() == 50)
  }

  test("covarianceStats: one aggregate, no join — the pair fan-out " +
    "happens on the single aggregated row") {
    val emb = Seq((0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(4.0f, 5.0f, 6.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.covarianceStats(emb, nDims = 3)
    val plan = r.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty, s"covariance must not self-join: $joins")
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggs.length == 1, s"expected exactly one aggregate, got $aggs")
    assert(r.count() == 6) // 3·4/2 pairs from one row
  }
}
