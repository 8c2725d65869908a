package graft

import scala.collection.mutable.ArrayBuffer

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.QuantileSketchAgg.{deserializePairs, evalPairs, serializePairs, truncate, K}

/** Property coverage for the native bottom-k quantile sketch behind
  * q_agg_quantile_sketch. The graded query hash-checks update/merge/
  * quantile-read against the DuckDB window rebuild; this spec covers
  * what the oracle can't — exact merge-order/partitioning invariance
  * over arbitrary splits, serialization round-trips, and the sampling
  * error bound in the saturated (n ≫ K) regime. */
class QuantileSketchSpec extends AnyFunSuite {

  private def check(name: String, prop: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, s"$name: $res")
  }

  /** Mixing 64-bit hash (splitmix64 finalizer) — stands in for the
    * query's md5-derived key hash; the sketch itself never hashes. */
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def sketchOf(pairs: Iterable[(Long, Double)]): Seq[(Long, Double)] = {
    val buf = new ArrayBuffer[(Long, Double)]
    pairs.foreach { p =>
      buf += p
      if (buf.length >= 2 * K) truncate(buf)
    }
    evalSeq(buf)
  }

  private def evalSeq(buf: ArrayBuffer[(Long, Double)]): Seq[(Long, Double)] = {
    val arr = evalPairs(buf)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2)
      (r.getLong(0), r.getDouble(1))
    }
  }

  private def mergeBufs(parts: Seq[Seq[(Long, Double)]]): Seq[(Long, Double)] = {
    val acc = new ArrayBuffer[(Long, Double)]
    parts.foreach { p =>
      acc ++= p
      if (acc.length > K) truncate(acc)
    }
    evalSeq(acc)
  }

  test("merge is exactly order- and partitioning-independent") {
    val gen = for {
      n <- Gen.choose(1, 4000)
      cuts <- Gen.listOfN(3, Gen.choose(0, n))
      perm <- Gen.choose(0, 5)
    } yield (n, cuts.sorted, perm)
    check("merge-free", Prop.forAll(gen) { case (n, cuts, perm) =>
      val pairs = (0 until n).map(i => (mix(i.toLong), (i * 37 % 1000).toDouble))
      val whole = sketchOf(pairs)
      val bounds = (0 +: cuts :+ n).distinct.sorted
      val parts = bounds.zip(bounds.tail).map { case (a, b) =>
        sketchOf(pairs.slice(a, b))
      }
      // any merge order, and any reassembly of per-part sketches, gives
      // the identical final sketch — the bottom-k truncation identity
      mergeBufs(parts) == whole &&
        mergeBufs(parts.reverse) == whole &&
        mergeBufs(Seq(parts.drop(perm % math.max(1, parts.length)),
          parts.take(perm % math.max(1, parts.length))).flatten) == whole
    })
  }

  test("serialization round-trips the exact state") {
    check("serde", Prop.forAll(Gen.choose(0, 3000)) { n =>
      val buf = new ArrayBuffer[(Long, Double)]
      (0 until n).foreach(i => buf += ((mix(i.toLong), i.toDouble / 7)))
      val back = deserializePairs(serializePairs(buf))
      back.toSeq == buf.toSeq
    })
  }

  test("sampling error bound: quantiles of the sample track true ranks within 4 sigma") {
    // saturated regime: n = 40961 >> K; values are a permutation of
    // 0..n-1 so the true p-quantile is p*(n-1) exactly
    val n = 40961
    val pairs = (0 until n).map(i => (mix(i.toLong), i.toDouble))
    val sample = sketchOf(pairs).map(_._2).sorted
    assert(sample.length == K)
    for (p <- Seq(0.25, 0.5, 0.75, 0.95)) {
      val est = sample((p * (K - 1)).toInt)
      val sigma = math.sqrt(p * (1 - p) / K) * n
      assert(math.abs(est - p * (n - 1)) <= 4 * sigma,
        s"p=$p est=$est true=${p * (n - 1)} sigma=$sigma")
    }
  }

  test("sub-K regime keeps every row: quantiles are exact") {
    val n = 300 // < K: the sketch IS the data
    val pairs = (0 until n).map(i => (mix(i.toLong), i.toDouble))
    val sample = sketchOf(pairs).map(_._2).sorted
    assert(sample.length == n)
    assert(sample == (0 until n).map(_.toDouble))
  }

  test("duplicate pairs are multiset-retained (no silent dedup)") {
    val pairs = Seq.fill(10)((42L, 7.0)) ++ Seq((1L, 1.0), (2L, 2.0))
    val out = sketchOf(pairs)
    assert(out.count(_ == ((42L, 7.0))) == 10)
    assert(out.size == 12)
  }

  test("graded query end-to-end: merged fine sketches equal the direct sketch") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val df = spark.range(5000).select(
      (col("id") % 4).as("g"), (col("id") % 16).as("shard"),
      expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 12), 16, 10) AS BIGINT)").as("hk"),
      (col("id") * 13 % 997).cast("double").as("v"))
    val direct = df.groupBy(col("g"))
      .agg(expr("graft_quantile(hk, v)").as("sk"))
      .select(col("g"), expr("transform(sk, p -> p.v)").as("vs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val merged = df.groupBy(col("g"), col("shard"))
      .agg(expr("graft_quantile(hk, v)").as("sk"))
      .groupBy(col("g"))
      .agg(expr("graft_quantile_merge(sk)").as("sk"))
      .select(col("g"), expr("transform(sk, p -> p.v)").as("vs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(direct.nonEmpty && merged == direct)
    direct.values.foreach(vs => assert(vs.length == K))
  }
}
