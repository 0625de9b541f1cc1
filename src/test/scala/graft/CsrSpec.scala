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
}
