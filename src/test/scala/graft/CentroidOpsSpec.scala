package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CentroidIndex, CentroidOps}

/** The bound-pruned nearest-centroid assignment must be EXACT — the
  * Cauchy–Schwarz norm prune may only skip centroids that cannot win,
  * and the (d², cid) tie-break must match the crossJoin + min_by plan
  * it replaced bit for bit. Brute force is the oracle here. */
class CentroidOpsSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private val dim = 64
  private val rnd = new scala.util.Random(20260816)

  /** Integral doubles, the quantized-embedding contract. */
  private def vec(): Array[Double] =
    Array.fill(dim)((rnd.nextInt(6001) - 3000).toDouble)

  private def d2(a: Array[Double], b: Array[Double]): Double = {
    var xx = 0.0; var s = 0.0; var cc = 0.0
    var i = 0
    while (i < dim) {
      xx += a(i) * a(i); s += a(i) * b(i); cc += b(i) * b(i); i += 1
    }
    xx - 2.0 * s + cc
  }

  private def bruteArgMin(x: Array[Double],
      cents: Seq[(Long, Array[Double])]): Long =
    cents.map { case (cid, cv) => (d2(x, cv), cid) }.min._2

  test("pruned search equals brute force, including exact-distance ties") {
    // duplicated centroid VECTORS under distinct cids force d² ties:
    // the smaller cid must win, exactly like min_by(cid, struct(dc,cid))
    val base = Seq.tabulate(48)(i => (i + 1).toLong -> vec())
    val dups = Seq(100L -> base(3)._2.clone(), 101L -> base(3)._2.clone(),
      102L -> base(17)._2.clone())
    val cents = base ++ dups
    val idx = CentroidIndex.build(cents.map { case (cid, cv) =>
      (cid, cv, cv.map(v => v * v).sum)
    })
    // probe points: random, exact copies of centroids (d²=0 ties), and
    // near-copies one quantum off
    val probes = Seq.fill(500)(vec()) ++ cents.map(_._2.clone()) ++
      cents.map { case (_, cv) =>
        val c = cv.clone(); c(0) += 1.0; c
      }
    for (x <- probes) {
      var xx = 0.0; var i = 0
      while (i < dim) { xx += x(i) * x(i); i += 1 }
      val got = idx.search(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(x), xx)
      val want = bruteArgMin(x, cents)
      assert(got == want, s"pruned=$got brute=$want for ${x.take(4).toSeq}")
    }
  }

  test("the prune actually prunes (probes ≪ K on clustered data)") {
    // tight clusters far apart: after the first in-cluster hit, the
    // norm bound should cut off almost everything else
    val centers = Seq.tabulate(200) { i =>
      val offset = (i * 7919 % 200) * 4000.0
      (i + 1).toLong -> Array.tabulate(dim)(j =>
        offset + (if (j == i % dim) 1000.0 else 0.0))
    }
    val idx = CentroidIndex.build(centers.map { case (cid, cv) =>
      (cid, cv, cv.map(v => v * v).sum)
    })
    var total = 0L
    for ((_, cv) <- centers) {
      val x = cv.clone(); x(1) += 3.0
      var xx = 0.0; var i = 0
      while (i < dim) { xx += x(i) * x(i); i += 1 }
      val got = idx.search(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(x), xx)
      assert(got == bruteArgMin(x, centers))
      total += idx.probesOfLastSearch
    }
    val mean = total.toDouble / centers.size
    assert(mean < centers.size / 4.0,
      f"prune ineffective: mean $mean%.1f probes over K=${centers.size}")
  }

  test("expression path (codegen) matches brute force through a DataFrame") {
    val s = spark
    import s.implicits._
    val cents = Seq.tabulate(32)(i => (i + 1).toLong -> vec())
    val idx = CentroidIndex.build(cents.map { case (cid, cv) =>
      (cid, cv, cv.map(v => v * v).sum)
    })
    val pts = Seq.tabulate(300)(i => (i.toLong, vec().toSeq))
    val df = pts.toDF("vec_id", "sv")
      .withColumn("xx", graft.functions.VecOps.vecDot(col("sv"), col("sv")))
    val got = df.select(col("vec_id"),
        CentroidOps.nearestCentroid(idx, col("sv"), col("xx")).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, sv) <- pts) {
      assert(got(id) == bruteArgMin(sv.toArray, cents), s"vec $id")
    }
  }
}
