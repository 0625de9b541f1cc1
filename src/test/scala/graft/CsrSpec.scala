package graft

import org.apache.spark.rdd.RDD

import graft.graph.{CsrBlocks, Edges, PackedCsr}

class CsrSpec extends SparkSuite {

  /** Runs `body` on the packed blocks of `e`'s neighbour rows, then
    * releases them.
    */
  private def withBlocks[T](e: org.apache.spark.sql.DataFrame)(body: RDD[PackedCsr] => T): T = {
    val blocks = CsrBlocks.packed(spark, Edges.neighbors(e))
    try body(blocks) finally blocks.unpersist(blocking = false)
  }

  test("CSR blocks: degrees match the relational degree computation") {
    val e = graft.generators.Generators.er(spark, 150, 0.05, 11)
    val fromCsr = withBlocks(e)(_.flatMap { b =>
      b.vertexIds.indices.map(i => b.vertexIds(i).toLong -> (b.rowPtr(i + 1) - b.rowPtr(i)).toLong)
    }.collect())
    assert(fromCsr.length == fromCsr.map(_._1).distinct.length, "a vertex in two rows")
    val fromSql = Edges.degrees(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromCsr.toMap == fromSql)
  }

  test("CSR SpMV with ones equals degrees; with ranks equals gather sum") {
    val e = edgesOf(K4 ++ Seq((3L, 4L)))
    val verts = Edges.vertices(e).collect().map(_.getLong(0))
    val n = verts.max.toInt + 1
    // y(v) = sum over v's neighbours u of x(u), one pass kernel per block
    def spmv(x: Array[Double]): Map[Long, Double] = withBlocks(e) { blocks =>
      CsrBlocks.pass(blocks, x) { (b, xv) =>
        b.vertexIds.indices.map { i =>
          var s = 0.0
          var j = b.rowPtr(i)
          while (j < b.rowPtr(i + 1)) { s += xv(b.colIdx(j)); j += 1 }
          b.vertexIds(i).toLong -> s
        }.toArray
      }.flatten.toMap
    }
    val deg = Edges.degrees(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    assert(spmv(Array.fill(n)(1.0)) == deg)
    // arbitrary x: compare against the join+agg gather
    val x = Array.tabulate(n)(v => 1.0 + v * 0.5)
    val y = spmv(x)
    val expected = {
      import spark.implicits._
      val xdf = verts.map(v => v -> x(v.toInt)).toSeq.toDF("nbr", "xv")
      Edges.neighbors(e).join(xdf, "nbr").groupBy("id")
        .agg(org.apache.spark.sql.functions.sum("xv").as("y")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(y.keySet == expected.keySet)
    y.foreach { case (k, v) =>
      assert(math.abs(v - expected(k)) < 1e-12, s"vertex $k")
    }
  }

  test("CSR blocks refuse a vertex id at or above 2^31") {
    val e = edgesOf(Seq((0L, 1L), (1L, 1L << 31)))
    val err = intercept[Exception](withBlocks(e)(_.count()))
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains(s"id ${1L << 31} is outside [0, 2^31)")),
      s"unexpected error: $err")
  }

  /** Asserts the driver build of (ids, nbrs, tags) equals the executor
    * build of the same entries as a frame, block for block.
    */
  private def assertDriverBuildMatches(session: org.apache.spark.sql.SparkSession,
                                       ids: Array[Int], nbrs: Array[Int],
                                       tags: Option[Array[Long]]): Unit = {
    import session.implicits._
    val entries = tags match {
      case Some(t) => ids.indices.map(e => (ids(e).toLong, nbrs(e).toLong, t(e)))
          .toDF("id", "nbr", "tag")
      case None => ids.indices.map(e => (ids(e).toLong, nbrs(e).toLong)).toDF("id", "nbr")
    }
    val rdd = CsrBlocks.packed(session, entries)
    val want = try rdd.collect() finally rdd.unpersist(blocking = false)
    val got = CsrBlocks.packed(session, ids, nbrs, tags)
    assert(got.map(_.partId).toSeq == want.map(_.partId).toSeq)
    got.zip(want).foreach { case (g, w) =>
      assert(g.vertexIds.toSeq == w.vertexIds.toSeq, s"vertexIds of block ${w.partId}")
      assert(g.rowPtr.toSeq == w.rowPtr.toSeq, s"rowPtr of block ${w.partId}")
      assert(g.colIdx.toSeq == w.colIdx.toSeq, s"colIdx of block ${w.partId}")
      assert(g.tags.toSeq == w.tags.toSeq, s"tags of block ${w.partId}")
    }
  }

  test("driver-built blocks equal the executor-built ones: ER(150, 0.05, 11), untagged") {
    val pairs = graft.generators.Generators.er(spark, 150, 0.05, 11).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
    assert(pairs.length > 100)
    // both directions of every edge, as Edges.neighbors has them
    assertDriverBuildMatches(spark, pairs.map(_._1) ++ pairs.map(_._2),
      pairs.map(_._2) ++ pairs.map(_._1), None)
  }

  test("driver-built blocks equal the executor-built ones: tagged, with repeated (id, nbr)") {
    val rnd = new scala.util.Random(5L)
    val m = 600
    val ids = Array.fill(m)(rnd.nextInt(40))
    val nbrs = Array.fill(m)(rnd.nextInt(40))
    // signed tags, and runs of one (id, nbr) whose tags arrive unsorted
    val tags = Array.tabulate(m)(e => if (e % 2 == 0) e.toLong * 7919 % 1000 else ~(e.toLong))
    val dup = ids.indices.take(30).toArray
    assertDriverBuildMatches(spark, ids ++ dup.map(ids(_)), nbrs ++ dup.map(nbrs(_)),
      Some(tags ++ dup.map(e => -tags(e) - 1)))
  }

  test("driver-built blocks equal the executor-built ones at a width with empty partitions") {
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    val ids = K4.flatMap { case (a, b) => Seq(a.toInt, b.toInt) }.toArray
    val nbrs = K4.flatMap { case (a, b) => Seq(b.toInt, a.toInt) }.toArray
    val blocks = CsrBlocks.packed(wide, ids, nbrs, None)
    assert(blocks.length <= 4 && blocks.map(_.partId).distinct.length == blocks.length)
    assertDriverBuildMatches(wide, ids, nbrs, None)
    assertDriverBuildMatches(wide, ids, nbrs, Some(ids.indices.map(_.toLong).toArray))
    // no entries: no blocks
    assert(CsrBlocks.packed(wide, Array.emptyIntArray, Array.emptyIntArray, None).isEmpty)
  }

  test("driver-built blocks refuse a negative vertex index") {
    val err = intercept[IllegalArgumentException](
      CsrBlocks.packed(spark, Array(0, -1), Array(1, 0), None))
    assert(err.getMessage.contains("id -1 is outside [0, 2^31)"))
  }
}
