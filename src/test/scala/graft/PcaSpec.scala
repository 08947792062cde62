package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Pca

/** Power-iteration PCA on planted low-rank data: known dominant
  * direction, eigenvalue, and explained share. */
class PcaSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs(rows: Seq[Array[Float]]) =
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")

  test("rank-1 data along a coordinate axis: component is that axis, " +
    "explained share is 1") {
    // dim 4, all variance on axis 2: x = (0, t, 0, 0), t = -3..3
    val rows = (-3 to 3).map(t =>
      Array(0f, t.toFloat, 0f, 0f))
    val out = Pca.topComponent(vecs(rows), dims = 4, iters = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3)))
    val byDim = out.map(x => x._1 -> x._2).toMap
    assert(math.abs(math.abs(byDim(2L)) - 1.0) < 1e-6)
    assert(math.abs(byDim(1L)) < 1e-6 && math.abs(byDim(3L)) < 1e-6 &&
      math.abs(byDim(4L)) < 1e-6)
    // population variance of {-3..3} = 28/7 = 4; lambda = 4, share = 1
    assert(math.abs(out.head._3 - 4.0) < 1e-5)
    assert(math.abs(out.head._4 - 1.0) < 1e-5)
  }

  test("dominant direction wins over a weaker orthogonal one and the " +
    "component is unit length") {
    // axis 1 spread +-10 (var 100), axis 3 spread +-1 (var 1)
    val rows = Seq(
      Array(10f, 0f, 0f, 0f), Array(-10f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, -1f, 0f))
    val out = Pca.topComponent(vecs(rows), dims = 4, iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(math.abs(out(1L)) - 1.0) < 1e-3)
    assert(math.abs(out(3L)) < 1e-3)
    val norm = out.values.map(v => v * v).sum
    assert(math.abs(norm - 1.0) < 1e-3)
  }

  test("a NULL vector is dropped in both engines: the result equals " +
    "the data without it") {
    val rows = (-3 to 3).map(t => Array(t.toFloat, 2f * t, 0f, 1f))
    val nullRow = Seq((99L, null: Array[Float])).toDF("vec_id", "embedding")
    def top(df: org.apache.spark.sql.DataFrame) =
      Pca.topComponent(df, dims = 4, iters = 20).collect().toSeq
    assert(top(vecs(rows).union(nullRow)) === top(vecs(rows)))
    // the DuckDB twin filters the same rows before its moment pass
    assert(Pca.topComponentSql(dims = 4, iters = 20)
      .split("UNION ALL").forall(_.contains("embedding IS NOT NULL")))
  }

  test("mean-centering: a large constant offset does not change the " +
    "component or eigenvalue") {
    val base = (-3 to 3).map(t => Array(t.toFloat, 0f, 0f, 0f))
    val shifted = (-3 to 3).map(t =>
      Array(t.toFloat + 100f, 50f, 50f, 50f))
    def top(rows: Seq[Array[Float]]) =
      Pca.topComponent(vecs(rows), dims = 4, iters = 20).collect()
        .map(r => (r.getLong(0), math.abs(r.getDouble(1)),
          r.getDouble(2)))
    val (a, b) = (top(base), top(shifted))
    a.zip(b).foreach { case ((d1, v1, l1), (d2, v2, l2)) =>
      assert(d1 === d2)
      assert(math.abs(v1 - v2) < 1e-4)
      assert(math.abs(l1 - l2) < 1e-4)
    }
  }
}
