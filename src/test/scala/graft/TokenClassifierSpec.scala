package graft

import org.apache.spark.sql.functions._
import graft.operators.TrainingData

/** Fixed-point linear token classifier (nbTokenWeights /
  * tokenClassifier): exact integer weights, smoothed backoff for
  * unseen tokens, and real learning on vocabulary-separated classes. */
class TokenClassifierSpec extends SparkSpec {
  import spark.implicits._

  test("hand-computed weights on a tiny corpus") {
    // pos: "a a b", neg: "c c b" → np = nn = 3, v = 3 (a, b, c)
    val docs = Seq((1L, "a a b"), (2L, "c c b")).toDF("doc_id", "text")
    val labels = Seq((1L, true), (2L, false)).toDF("doc_id", "label")
    val m = TrainingData.nbTokenWeights(docs, labels)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // ppm(c, n) = ((c+1)*1e6) div (n + 3)
    def ppm(c: Long) = ((c + 1L) * 1000000L) / 6L
    assert(m.toSeq == Seq(
      ("a", 2L, 0L, ppm(2) - ppm(0)),
      ("b", 1L, 1L, 0L),
      ("c", 0L, 2L, ppm(0) - ppm(2))))
  }

  test("vocabulary-separated classes: held-out prediction is perfect") {
    // class-pos docs speak {red, crimson, scarlet}; class-neg docs
    // speak {blue, azure, navy}. Train on ids < 40, predict the rest.
    def doc(i: Long): (Long, String) = {
      val vocab = if (i % 2 == 0) Seq("red", "crimson", "scarlet")
                  else Seq("blue", "azure", "navy")
      (i, (0 until 12).map(t => vocab(((i + t) % 3).toInt)).mkString(" "))
    }
    val docs = (0L until 80L).map(doc).toDF("doc_id", "text")
    val labels = docs.where($"doc_id" < 40)
      .select($"doc_id", ($"doc_id" % 2 === 0).as("label"))
    TrainingData.tokenClassifier(docs, labels).use { scored =>
      val preds = scored.collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
      assert((0L until 80L).forall(i => preds(i) == (i % 2 == 0)))
      // n_tok and all-integer score present
      val row = scored.where($"doc_id" === 41L).head()
      assert(row.getLong(1) == 12L)
      assert(row.getLong(2) < 0L)
    }
  }

  test("unseen tokens back off through the smoothed formula") {
    val docs = Seq((1L, "a a"), (2L, "b b"), (3L, "zz qq")).toDF("doc_id", "text")
    val labels = Seq((1L, true), (2L, false)).toDF("doc_id", "label")
    // np = nn = 2, v = 2 → w_unseen = (1e6 div 4) - (1e6 div 4) = 0
    val r3 = TrainingData.tokenClassifier(docs, labels)
      .use(_.where($"doc_id" === 3L).head())
    assert(r3.getLong(2) == 0L && !r3.getBoolean(3))
  }

  test("deterministic across runs on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val labels = docs.selectExpr("doc_id", "lang = 'en' AS label")
      .where("doc_id < 50")
    def run() = TrainingData.tokenClassifier(docs, labels)
      .use(_.collect()).map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(run() == run())
  }

  test("multiclass: hand-computed centroid argmax, OOV fallback") {
    import spark.implicits._
    // centroids: a trains on "x x y" → x: 666666, y: 333333 ppm;
    //            b trains on "x z"   → x: 500000, z: 500000 ppm
    val docs = Seq(
      (1L, "x x y"),   // a: 2·666666+333333 = 1666665 vs b: 1000000 → a
      (2L, "x z"),     // a: 666666 vs b: 1000000 → b
      (10L, "y y"),    // a: 666666 vs b: — → a (n_seen 2 under a)
      (11L, "z z z"),  // b: 1500000 → b
      (12L, "x"),      // a: 666666 vs b: 500000 → a
      (13L, "qq oov only")).toDF("doc_id", "text") // zero seen → fallback 'a'
    val labels = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "cls")
    val got = TrainingData.multiClassifier(docs, labels)
      .use(_.collect()).map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, "a", 3L, 1666665L),
      (2L, "b", 2L, 1000000L),
      (10L, "a", 2L, 666666L),
      (11L, "b", 3L, 1500000L),
      (12L, "a", 1L, 666666L),
      (13L, "a", 0L, 0L)))
  }

  test("multiclass: vocabulary-separated classes predict perfectly held-out") {
    import spark.implicits._
    // three classes with tilted vocabularies — held-out docs (ids ≥ 100,
    // unlabeled) must all classify correctly, including mixed docs
    // whose majority vocabulary decides
    val docs = Seq(
      (1L, "apfel birne kirsche apfel birne"), (2L, "apfel kirsche apfel"),
      (3L, "pomme poire cerise pomme"), (4L, "poire cerise poire pomme"),
      (5L, "apple pear cherry apple"), (6L, "pear cherry apple pear"),
      (100L, "apfel birne apfel"),           // de
      (101L, "pomme cerise poire"),          // fr
      (102L, "apple apple pear"),            // en
      (103L, "apfel apfel pomme")            // mixed, de-majority
    ).toDF("doc_id", "text")
    val labels = Seq((1L, "de"), (2L, "de"), (3L, "fr"), (4L, "fr"),
      (5L, "en"), (6L, "en")).toDF("doc_id", "cls")
    val preds = TrainingData.multiClassifier(docs, labels)
      .use(_.collect()).map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(100L) == "de" && preds(101L) == "fr" && preds(102L) == "en")
    assert(preds(103L) == "de")
    // and the training docs recover their own labels
    assert(preds(1L) == "de" && preds(3L) == "fr" && preds(5L) == "en")
  }

  test("multiclass: empty or disjoint labels fail loudly, not null predictions") {
    import spark.implicits._
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "cls")
    val disjoint = Seq((99L, "a")).toDF("doc_id", "cls")
    intercept[IllegalArgumentException] {
      TrainingData.multiClassifier(docs, empty)
    }
    intercept[IllegalArgumentException] {
      TrainingData.multiClassifier(docs, disjoint)
    }
  }

  test("multiclass on documents: deterministic, full coverage") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val labels = docs.selectExpr("doc_id", "lang AS cls").where("doc_id < 250")
    def run() = TrainingData.multiClassifier(docs, labels)
      .use(_.collect()).map(_.toSeq).toSeq
    val a = run()
    assert(a.size.toLong == docs.count()) // the fallback covers every doc
    assert(a == run())
    // honest note: the synthetic corpus's shared 31-word vocabulary is
    // nearly signal-free for lang-ID — q178 pins the oracle-exact
    // train-and-predict loop; accuracy lives in the separation test above
  }
}
