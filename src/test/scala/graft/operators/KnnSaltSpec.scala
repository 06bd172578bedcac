package graft.operators

import graft.{Oracles, SparkSuite}
import graft.functions.VectorFns
import org.apache.spark.sql.functions._

/** Gate for the BOUNDED-BUCKET salting in [[Similarity.knnEdges]]
  * (VERDICT r13 #1). The driver's near-uniform embeddings never trip the
  * salt (every bucket fits bucketCap, nsalt = 1, construction bit-identical
  * — that regime is hash-gated by q168/q175 CORRECTNESS), so this spec owns
  * the OTHER regime: a hot-blob fixture where one hyperplane bucket holds
  * 500 members (> bucketCap = 128 → nsalt ≥ 4) exercises the salted
  * candidate join, and DuckDB replays it through literally the same
  * [[Oracles.knnEdgeCtes]] SQL that q168/q175 ship — cross-engine equality
  * on the branch the sf0.01 gate cannot reach. */
class KnnSaltSpec extends SparkSuite {

  private val dim = 64
  private val bucketCap = 128

  // seeded splitmix64 walk -> [-1, 1): deterministic fixture randomness,
  // the same generator ScaleGen's clustered mode uses (one definition)
  private def mix(seed: Long): Double =
    graft.functions.TextFns.splitmix64(seed).toDouble / 9.223372036854776e18

  /** 640 vectors: blob A = 500 members (ids 0-499, one hot hyperplane
    * bucket), blob B = 100 (ids 500-599), 40 unclustered (ids 600-639).
    * 0.9·centroid + 0.1·noise — the ScaleGen "clustered" recipe. */
  private lazy val fixtureDir: String = {
    import spark.implicits._
    val cents = Array(
      Array.tabulate(dim)(d => mix(d.toLong)),
      Array.tabulate(dim)(d => mix(1000L + d)))
    val rows = (0 until 640).map { id =>
      val c = if (id < 500) cents(0) else if (id < 600) cents(1) else null
      val e = Array.tabulate(dim) { d =>
        val n = mix(50000L + id.toLong * dim + d)
        (if (c == null) n else 0.9 * c(d) + 0.1 * n).toFloat
      }
      (id.toLong, e.toSeq, if (id < 500) 0 else if (id < 600) 1 else 2)
    }
    val dir = tempDir("knnsalt")
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("fixture is hot (one bucket > 3x bucketCap) and salting bounds every (bucket, salt) group") {
    val e = spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .withColumn("bucket", VectorFns.hyperplaneSigUdf(4)(col("embedding")))
    val occ = e.groupBy("bucket").count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    assert(occ.values.max >= 500, s"hot blob should share one signature: $occ")
    // same nsalt/salt arithmetic as knnEdges; every group must fit ~cap
    val salted = e
      .join(broadcast(e.groupBy("bucket").agg(
        ceil(count(lit(1)).cast("double") / lit(bucketCap)).cast("long").as("nsalt"))),
        Seq("bucket"))
      .withColumn("salt",
        conv(substring(md5(concat(lit("salt_"), col("vec_id").cast("string"),
          lit("_"), col("bucket").cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % col("nsalt"))
      .groupBy("bucket", "salt").count().agg(max("count")).head().getLong(0)
    assert(salted <= 2L * bucketCap,
      s"max salted group $salted exceeds 2x bucketCap — occupancy unbounded")
  }

  test("unsalted knnEdges equals the naive hamming<=1 reference (refactor is a no-op at nsalt=1)") {
    val (e, edges) = Similarity.knnEdges(spark, fixtureDir, k = 3, cap = 1000,
      bucketCap = 1 << 29)
    val nodes = e.collect().map { r =>
      (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Int](r.fieldIndex("qv")).toArray,
        r.getLong(r.fieldIndex("sq")),
        r.getInt(r.fieldIndex("bucket")))
    }
    def dot(a: Array[Int], b: Array[Int]): Long =
      a.indices.foldLeft(0L)((s, i) => s + a(i).toLong * b(i))
    val knn = nodes.flatMap { case (va, qa, sa, ba) =>
      nodes.filter { case (vb, _, _, bb) =>
        vb != va && Integer.bitCount(ba ^ bb) <= 1
      }.map { case (vb, qb, sb, _) =>
        (vb, (sa + sb - 2 * dot(qa, qb)) * 1000L + vb)
      }.sortBy(_._2).take(3).map { case (vb, _) => (va, vb) }
    }
    val expect = (knn ++ knn.map { case (a, b) => (b, a) }).toSet
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
  }

  test("salted knnEdges: DuckDB replays Oracles.knnEdgeCtes identically (cross-engine, nsalt > 1)") {
    val (_, edges) = Similarity.knnEdges(spark, fixtureDir, k = 3, cap = 1000,
      bucketCap = bucketCap)
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val conn = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    try {
      val st = conn.createStatement()
      st.execute(s"""CREATE VIEW embeddings AS
        SELECT vec_id, embedding
        FROM read_parquet('$fixtureDir/embeddings.parquet/*.parquet')""")
      val rs = st.executeQuery(
        s"WITH ${Oracles.knnEdgeCtes(1000, 3, bucketCap)} SELECT a, b FROM edges")
      val oracle = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(oracle.nonEmpty && got == oracle,
        s"missing=${oracle -- got} extra=${got -- oracle}")
    } finally conn.close()
  }

  test("salted branch executed-plan pin: candidate join keys on (bucket, salt), occ dims broadcast, no blowup joins (VERDICT r14 #4)") {
    // ExecutedPlanSpec's q168 pin runs at sf0.01 where nsalt = 1; this
    // pins the PHYSICAL shape of the nsalt >= 4 branch on the hot-blob
    // fixture — the regime KnnSaltSpec otherwise gates only by output.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // unique bucketCap -> unique layout name -> the build always executes
      // (127 still salts the 500-blob: nsalt = ceil(500/127) = 4)
      Similarity.knnEdges(spark, fixtureDir, k = 3, cap = 1000, bucketCap = 127)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def build: Option[String] = {
        import scala.jdk.CollectionConverters._
        captured.asScala.find(p =>
          p.contains("dot_i") && p.contains("knnedges_3_1000_4s127"))
      }
      while (build.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val full = build.getOrElse(fail("no captured plan contains the salted candidate join"))
      val cut = full.indexOf("== Initial Plan ==")
      val p = if (cut >= 0) full.substring(0, cut) else full
      // the salt is an EQUI-JOIN KEY of the candidate join — the whole
      // point of the fix; a regression that demotes it to a post-filter
      // (or drops it) re-opens the hot-bucket quadratic
      val saltKeyed = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[[^\\]]*salt"
        .r.findFirstIn(p)
      assert(saltKeyed.isDefined,
        s"candidate join must key on (bucket, salt):\n$p")
      // the two occupancy dims (2^planes rows) are hint-pinned broadcasts
      assert("BroadcastHashJoin".r.findAllMatchIn(p).length >= 2,
        s"both occ joins must broadcast the 2^planes occupancy dim:\n$p")
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"no blowup joins in the salted edge build:\n$p")
      // negative control: the detector is sensitive to the ACTUAL
      // regression mode — salt present on both sides but DEMOTED from an
      // equi-join key to a post-join filter (which re-opens the
      // hot-bucket quadratic: the join itself matches the whole bucket)
      import graft.functions.VectorFns
      val e = spark.read.parquet(s"$fixtureDir/embeddings.parquet")
        .withColumn("bucket", VectorFns.hyperplaneSigUdf(4)(col("embedding")))
        .withColumn("salt",
          conv(substring(md5(col("vec_id").cast("string").cast("binary")),
            1, 8), 16, 10).cast("long") % lit(4L))
        .select("vec_id", "bucket", "salt")
      // abs(a-b) < 1 is long equality the planner CANNOT promote into an
      // equi-join key (a plain === filter would be pushed into the keys,
      // making the control vacuous) — the join matches whole buckets and
      // salt survives only as a post-join condition
      val demoted = e.join(
        e.select(col("vec_id").as("vb"), col("bucket"),
          col("salt").as("salt_b")), Seq("bucket"))
        .filter(abs(col("salt") - col("salt_b")) < 1)
      demoted.count()
      val up0 = demoted.queryExecution.executedPlan.toString
      val upCut = up0.indexOf("== Initial Plan ==")
      val up = if (upCut >= 0) up0.substring(0, upCut) else up0
      assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[[^\\]]*salt"
        .r.findFirstIn(up).isEmpty,
        s"salt demoted to a post-join filter must fail the salt-key pin " +
          s"(detector sensitivity):\n$up")
    } finally spark.listenerManager.unregister(listener)
  }

  test("salted graph quality: hot-blob nodes keep blob-local neighbors; distances within noise scale") {
    val (e, edges) = Similarity.knnEdges(spark, fixtureDir, k = 3, cap = 1000,
      bucketCap = bucketCap)
    val q = e.collect().map(r => r.getLong(r.fieldIndex("vec_id")) ->
      (r.getSeq[Int](r.fieldIndex("qv")).toArray, r.getLong(r.fieldIndex("sq")))).toMap
    def d2(a: Long, b: Long): Long = {
      val (qa, sa) = q(a); val (qb, sb) = q(b)
      sa + sb - 2 * qa.indices.foldLeft(0L)((s, i) => s + qa(i).toLong * qb(i))
    }
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    // ANY bucketCap-sized subset of a tight blob contains near neighbors,
    // so each blob-A node's own k choices stay inside blob A: after
    // symmetrization every blob-A node keeps >= k blob-local edges. (The
    // edge frame is symmetrized, so blob-A nodes ALSO carry reverse edges
    // from noise nodes that chose them — those cross-blob edges are the
    // noise nodes' correct kNN, not a salting defect, and are excluded.)
    val inBlobByNode = es.filter { case (a, b) => a < 500 && b < 500 }
      .groupBy(_._1).map { case (_, v) => v.length }
    assert(inBlobByNode.size == 500 && inBlobByNode.min >= 3,
      s"blob-A nodes with <3 blob-local edges: ${500 - inBlobByNode.count(_ >= 3)}")
    val inBlob = es.filter { case (a, b) => a < 500 && b < 500 }
      .map { case (a, b) => d2(a, b) }
    val crossBlobMin = (for (a <- 0L until 500L by 25; b <- 500L until 640L by 7)
      yield d2(a, b)).min
    assert(inBlob.max < crossBlobMin,
      s"salted within-blob edge distance ${inBlob.max} not below cross-blob floor $crossBlobMin")
  }
}
