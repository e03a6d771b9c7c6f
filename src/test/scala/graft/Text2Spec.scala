package graft

/** Hand-computed PMI fixture: counts and the log-ratio are small enough
  * to derive on paper, so this pins the estimator itself (the gate query
  * pins engine-vs-oracle equality on the real corpus).
  */
class Text2Spec extends SparkTestBase {

  test("pmi on a two-doc fixture matches the hand computation") {
    import spark.implicits._
    // doc1 tokens: x y x y   doc2 tokens: x y z
    // unigrams: x=3 y=3 z=1, U=7
    // bigrams: (x,y)=3 [doc1 twice + doc2 once], (y,x)=1, (y,z)=1, NB=5
    val docs = Seq((1L, "x y x y"), (2L, "x y z")).toDF("doc_id", "text")
    val got = ops.Text2.pmiBigramsOf(docs, minCount = 1, k = 10)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(("x", "y"), ("y", "x"), ("y", "z")))
    def pmi(cab: Long, ca: Long, cb: Long): Double = {
      val v = math.log((cab.toDouble / 5.0) /
        ((ca.toDouble / 7.0) * (cb.toDouble / 7.0)))
      math.round(v * 1e6) / 1e6
    }
    assert(got(("x", "y")) == ((3L, pmi(3, 3, 3))))
    assert(got(("y", "x")) == ((1L, pmi(1, 3, 3))))
    assert(got(("y", "z")) == ((1L, pmi(1, 3, 1))))
  }

  test("min-count filters rare pairs; k caps the output") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b a b"), (2L, "c d")).toDF("doc_id", "text")
    // (a,b)=3, (b,a)=2, (c,d)=1
    val got = ops.Text2.pmiBigramsOf(docs, minCount = 2, k = 1).collect()
    assert(got.length == 1)
    assert((got(0).getString(0), got(0).getString(1)) == (("a", "b")),
      "with equal unigram margins the more frequent pair has higher PMI")
  }
}
