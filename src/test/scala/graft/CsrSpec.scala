package graft

import org.apache.spark.rdd.RDD

import graft.core.Route
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

  /** Per vertex, its neighbours in row order and its tags, over blocks
    * whose row `i` holds entries `rowPtr(i) until rowPtr(i + 1)`; a
    * vertex in two rows fails.
    */
  private def rowsOf(blocks: Seq[PackedCsr]): Map[Int, (Seq[Int], Seq[Long])] = {
    val rows = for (b <- blocks; i <- b.vertexIds.indices if b.rowPtr(i) < b.rowPtr(i + 1))
      yield {
        val at = b.rowPtr(i) until b.rowPtr(i + 1)
        b.vertexIds(i) -> (at.map(b.colIdx(_)), if (b.tags.isEmpty) Nil else at.map(b.tags(_)))
      }
    assert(rows.map(_._1).distinct.length == rows.length, "a vertex in two rows")
    rows.toMap
  }

  /** Asserts the driver build of edges (src(i), dst(i)), tagged
    * `eids(i)` when given — row blocks of [[Route.undirectedCsr]] — has
    * the rows the executor build of both directions of every edge has:
    * each vertex's neighbour sequence equal, and each (id, nbr) run
    * holding the same tags.
    */
  private def assertDriverBuildMatches(session: org.apache.spark.sql.SparkSession, n: Int,
                                       src: Array[Int], dst: Array[Int],
                                       eids: Option[Array[Long]]): Unit = {
    import session.implicits._
    val both = src.indices.flatMap { e =>
      val t = eids.fold(0L)(_(e))
      Seq((src(e).toLong, dst(e).toLong, t), (dst(e).toLong, src(e).toLong, ~t))
    }
    val entries = if (eids.isDefined) both.toDF("id", "nbr", "tag")
      else both.map(t => (t._1, t._2)).toDF("id", "nbr")
    val rdd = CsrBlocks.packed(session, entries)
    val want = rowsOf(try rdd.collect().toSeq finally rdd.unpersist(blocking = false))
    val (rowPtr, colIdx, tags) = Route.undirectedCsr(n, src, dst, eids)
    val blocks = CsrBlocks.rows(session, rowPtr, colIdx, tags)
    assert(blocks.length <= session.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(blocks.map(_.partId).distinct.length == blocks.length)
    val got = rowsOf(blocks.toSeq)
    assert(got.keySet == want.keySet)
    want.foreach { case (v, (nbrs, ts)) =>
      assert(got(v)._1 == nbrs, s"neighbours of vertex $v")
      def runs(t: Seq[Long]) =
        nbrs.zip(t).groupBy(_._1).map { case (u, r) => u -> r.map(_._2).sorted }
      assert(runs(got(v)._2) == runs(ts), s"tags of vertex $v")
    }
  }

  test("driver-built blocks equal the executor-built ones: ER(150, 0.05, 11), untagged") {
    val pairs = graft.generators.Generators.er(spark, 150, 0.05, 11).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
    assert(pairs.length > 100)
    assertDriverBuildMatches(spark, 150, pairs.map(_._1), pairs.map(_._2), None)
  }

  test("driver-built blocks equal the executor-built ones: tagged, with repeated (id, nbr)") {
    val rnd = new scala.util.Random(5L)
    val m = 600
    val ids = Array.fill(m)(rnd.nextInt(40))
    val nbrs = Array.fill(m)(rnd.nextInt(40))
    // signed tags, and runs of one (id, nbr) whose tags arrive unsorted
    val tags = Array.tabulate(m)(e => if (e % 2 == 0) e.toLong * 7919 % 1000 else ~(e.toLong))
    val dup = ids.indices.take(30).toArray
    assertDriverBuildMatches(spark, 40, ids ++ dup.map(ids(_)), nbrs ++ dup.map(nbrs(_)),
      Some(tags ++ dup.map(e => -tags(e) - 1)))
  }

  test("driver-built blocks equal the executor-built ones at a width with empty partitions") {
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    val src = K4.map(_._1.toInt).toArray
    val dst = K4.map(_._2.toInt).toArray
    val (rowPtr, colIdx, _) = Route.undirectedCsr(4, src, dst)
    val blocks = CsrBlocks.rows(wide, rowPtr, colIdx, Array.emptyLongArray)
    assert(blocks.length <= 4 && blocks.map(_.partId).distinct.length == blocks.length)
    assertDriverBuildMatches(wide, 4, src, dst, None)
    assertDriverBuildMatches(wide, 4, src, dst, Some(src.indices.map(_.toLong).toArray))
    // no rows: no blocks
    val (none, _, _) = Route.undirectedCsr(0, Array.emptyIntArray, Array.emptyIntArray)
    assert(CsrBlocks.rows(wide, none, Array.emptyIntArray, Array.emptyLongArray).isEmpty)
  }
}
