package graft

import org.scalacheck.Gen

/** Generative checks for the int8 quantization and PMI estimators: both
  * are closed-form per row/pair, so a plain-Scala model can verify them
  * on arbitrary generated inputs — the oracle equality at the gate pins
  * engine-vs-engine, these pin the MATH. (Generators used directly; no
  * scalatestplus bridge in the offline dependency set.)
  */
class QuantizePropsSpec extends SparkTestBase {

  private val vecGen: Gen[Array[Float]] = for {
    n <- Gen.choose(1, 48)
    xs <- Gen.listOfN(n, Gen.choose(-100f, 100f))
    if xs.exists(_ != 0f)
  } yield xs.toArray

  test("quantization error is bounded by scale/2 on arbitrary vectors") {
    import spark.implicits._
    val vecs = Gen.listOfN(40, vecGen).sample.getOrElse(Nil)
    assert(vecs.nonEmpty)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = ops.Sim2.quantizeOf(df).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val d = v.map(_.toDouble)
      val scale = math.max((d.max - d.min) / 255.0, 1e-12)
      val (fid, err) = got(i.toLong)
      // reported error is rounded to 6 decimals — allow that slack
      assert(err <= scale / 2 + 1e-6, s"vec $i: err=$err scale=$scale")
      if (d.exists(_ != 0.0)) assert(fid > 0.99, s"vec $i: fidelity=$fid")
    }
  }

  test("a constant vector quantizes exactly (scale clamp path)") {
    import spark.implicits._
    val df = Seq((0L, Array(3.5f, 3.5f, 3.5f))).toDF("vec_id", "embedding")
    val r = ops.Sim2.quantizeOf(df).collect().head
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 0.0)
  }

  test("pmi matches an independent count model on random corpora") {
    import spark.implicits._
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd")
    val docGen = for {
      n <- Gen.choose(1, 8)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val docs = Gen.listOfN(12, docGen).sample.getOrElse(Nil)
    assert(docs.nonEmpty)
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // independent plain-Scala model
    val toks = docs.map(_.split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val u = toks.map(_.size).sum.toDouble
    val bgs = toks.flatMap(ts => ts.zip(ts.drop(1)))
    val cab = bgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nb = bgs.size.toDouble
    val got = ops.Text2.pmiBigramsOf(df, minCount = 1, k = 1000).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == cab.keySet)
    cab.foreach { case (pair @ (a, b), c) =>
      val want = math.log((c / nb) / ((uni(a) / u) * (uni(b) / u)))
      val (gc, gp) = got(pair)
      assert(gc == c, s"count for $pair")
      assert(math.abs(gp - want) < 1e-5, s"pmi for $pair: $gp vs $want")
    }
  }
}
